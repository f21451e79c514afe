"""JSON serde boundary (reference serdes/circe.scala:11-26).

The reference serializes entities to compact JSON bytes and deserializes
with failure -> None + log (records silently dropped, circe.scala:15-23).
Spark equivalent: ``from_json`` yields null on malformed input; the
deserialize helper drops those rows (DROPMALFORMED) and
``malformed_records`` routes them to a dead-letter DataFrame (see
streaming.errors for the counted policy E1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def serialize_json(*cols: Column | str) -> Column:
    """Entity columns -> compact JSON string (circe ``asJson.noSpaces``).

    ``to_json(struct(...))`` runs JVM-side; for a Kafka sink cast to
    binary to match the wire format.
    """
    struct_cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.to_json(F.struct(*struct_cols))


def deserialize_json(
    df: DataFrame,
    value_col: str,
    schema: StructType,
    *,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Parse a JSON string/binary column into typed columns.

    Matches the reference's drop-on-decode-failure policy: malformed
    rows are filtered out (circe.scala:15-23).  PERMISSIVE ``from_json``
    yields an ALL-NULL struct (not a null struct) for malformed input,
    so "malformed" means struct-null OR every field null.
    """
    parsed = df.withColumn("_parsed", F.from_json(F.col(value_col).cast("string"), schema))
    parsed = parsed.filter(~_malformed_cond(schema))
    keep = [F.col(c) for c in keep_cols]
    return parsed.select(*keep, F.col("_parsed.*"))


def _malformed_cond(schema: StructType):
    all_null = F.lit(True)
    for f in schema.fields:
        all_null = all_null & F.col(f"_parsed.{f.name}").isNull()
    return F.col("_parsed").isNull() | all_null


def malformed_records(df: DataFrame, value_col: str, schema: StructType) -> DataFrame:
    """The complement of :func:`deserialize_json` — rows that fail to
    parse, for dead-letter sinks (policy E1/E4, SURVEY.md §2.7)."""
    parsed = df.withColumn("_parsed", F.from_json(F.col(value_col).cast("string"), schema))
    return parsed.filter(_malformed_cond(schema)).drop("_parsed")
