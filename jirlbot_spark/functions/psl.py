"""Public-suffix-list loader for pay-level-domain extraction.

The vendored table at ``jirlbot_spark/data/public_suffix_list.dat`` is the
full publicsuffix.org list (public data, MPL-2.0 — the license header is
preserved in the file) as shipped by the OS `publicsuffix` package.  The
reference's PLD extraction (IRLbotUtil.getPLDofURL in RovoMe/JIRLbot;
reference tree empty at build time — SURVEY.md §0) budgets STAR/BEAST per
pay-level domain, so suffix coverage directly controls whether distinct
registrants share or split a crawl budget.  Round 2 shipped a ~40-entry
embedded subset; this module replaces it with the full ~9.5k-rule list and
the complete PSL match algorithm (exact rules, leftmost ``*.`` wildcards,
``!`` exceptions, the implicit ``*`` default).

Parsed once per process into three frozensets consumed by the Arrow
kernel (urls_arrow.pld_chunk) and its pandas test oracle
(tests/urls_reference.py):

  EXACT             — rule strings, e.g. "com", "co.uk", "github.io"
  WILDCARD_PARENTS  — parents of ``*.x`` rules, e.g. "ck" for "*.ck"
  EXCEPTIONS        — ``!rule`` strings minus the bang, e.g. "www.ck"

Unicode rules are stored in BOTH their punycode form (hosts arrive
punycoded from canonicalize — the urls_arrow IDN step) and their raw lowercase
form (defensive: a caller may pass an un-IDNA'd host straight to pld).
Python's "idna" codec is IDNA2003 — the same codec canonicalize uses for
hosts, so the two sides agree even where IDNA2003 and UTS-46 differ.

The sets are plain frozensets on the driver; executors re-parse from the
packaged data file on first use (importlib.resources works from the
--py-files zip).  On a real cluster prefer broadcasting: the kernels only
need set-membership, so the lookup shape is size-independent.
"""

from __future__ import annotations

import functools
import importlib.resources

# Highest label count across all rules (incl. wildcard parents + 1).
# Asserted against the parsed data in load_psl(); pld_chunk sizes its
# suffix-extraction windows from this.
MAX_RULE_LABELS = 5


def _idna(rule: str) -> str | None:
    try:
        return rule.encode("idna").decode("ascii")
    except Exception:
        return None


@functools.lru_cache(maxsize=1)
def load_psl() -> tuple[frozenset[str], frozenset[str], frozenset[str]]:
    """Parse the vendored list -> (exact, wildcard_parents, exceptions)."""
    text = (
        importlib.resources.files("jirlbot_spark.data")
        .joinpath("public_suffix_list.dat")
        .read_text(encoding="utf-8")
    )
    exact: set[str] = set()
    wildcard_parents: set[str] = set()
    exceptions: set[str] = set()
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0].lower()
        target = exact
        if rule.startswith("!"):
            rule = rule[1:]
            target = exceptions
        elif rule.startswith("*."):
            rule = rule[2:]
            target = wildcard_parents
        forms = {rule}
        if not rule.isascii():
            enc = _idna(rule)
            if enc is not None:
                forms.add(enc)
        target.update(forms)
    max_labels = max(
        max(r.count(".") + 1 for r in exact),
        max(r.count(".") + 2 for r in wildcard_parents),
        max(r.count(".") + 1 for r in exceptions),
    )
    assert max_labels <= MAX_RULE_LABELS, (
        f"PSL grew past MAX_RULE_LABELS={MAX_RULE_LABELS} (saw {max_labels}); "
        "bump the constant and re-pin the pld goldens"
    )
    return frozenset(exact), frozenset(wildcard_parents), frozenset(exceptions)
