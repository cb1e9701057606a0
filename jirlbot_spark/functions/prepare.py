"""Fused URL-preparation kernel: canonicalize + host + PLD + murmur3 keys
in ONE Arrow pass.

Chaining separate column UDFs costs one JVM<->Python Arrow round trip per
UDF (Spark plans each as its own Python runner). The frontier hot path does
five of them per URL; fusing into a single pass cut the prepare phase ~4x
in bench.py.

Physical path: mapInArrow over the pyarrow compute kernels in urls_arrow —
strings never materialize as Python objects, regex runs in re2, murmur3
reads the Arrow UTF-8 buffer directly. Relative-reference resolution
(base_col given — the link-extraction path) runs in the same Arrow pass
via urls_arrow.resolve_chunk. The pandas oracle these rows are
equivalence-tested against lives in tests/urls_reference.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

PREPARED_FIELDS = [
    StructField("url", StringType()),
    StructField("url_hash", LongType()),
    StructField("host", StringType()),
    StructField("host_hash", LongType()),
    StructField("pld", StringType()),
    StructField("pld_hash", LongType()),
]


def prepare_batch_arrow(rb, url_col: str, out_schema, base_col=None):
    """Arrow-level kernel: one RecordBatch in, prepared RecordBatch out
    (invalid URLs dropped). Keeps every out_schema column beyond the six
    prepared fields, filtered to the surviving rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from jirlbot_spark.functions.hashing import murmur3_64_from_arrow
    from jirlbot_spark.functions.urls_arrow import (
        canonicalize_with_host,
        pld_chunk,
    )

    bases = rb.column(base_col) if base_col else None
    canon, host = canonicalize_with_host(rb.column(url_col), bases)
    valid = pc.is_valid(canon)
    canon = pc.filter(canon, valid)
    host = pc.filter(host, valid)
    pld = pld_chunk(host)
    arrays = [
        canon,
        pa.array(murmur3_64_from_arrow(canon), pa.int64()),
        host,
        pa.array(murmur3_64_from_arrow(host), pa.int64()),
        pld,
        pa.array(murmur3_64_from_arrow(pld), pa.int64()),
    ]
    for field in list(out_schema)[6:]:
        arrays.append(pc.filter(rb.column(field.name), valid))
    return pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def prepare_urls_fused(
    df: DataFrame,
    url_col: str = "url",
    base_col: str | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Spark surface: url (+base) + keep columns -> prepared frontier cols
    (url, url_hash, host, host_hash, pld, pld_hash) + keep columns."""
    in_cols = [url_col] + ([base_col] if base_col else []) + list(keep)
    src = df.select(*in_cols)
    keep_fields = [f for f in src.schema.fields if f.name in keep]
    schema = StructType(PREPARED_FIELDS + keep_fields)

    import pyarrow as pa

    out_schema = pa.schema(
        [
            pa.field(f.name, pa.from_numpy_dtype("int64"))
            if isinstance(f.dataType, LongType)
            else pa.field(f.name, "string")
            for f in PREPARED_FIELDS
        ]
    )

    def run_arrow(batches):
        import pyarrow as pa

        full_schema = None
        for rb in batches:
            if full_schema is None:
                keep_schema = pa.schema(
                    [rb.schema.field(f.name) for f in keep_fields]
                )
                full_schema = pa.schema(
                    list(out_schema) + list(keep_schema)
                )
            if rb.num_rows:
                yield prepare_batch_arrow(
                    rb, url_col, full_schema, base_col=base_col
                )

    return src.mapInArrow(run_arrow, schema=schema)

