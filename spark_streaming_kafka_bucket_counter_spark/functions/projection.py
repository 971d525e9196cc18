"""Field projection / rename via conversion map, and JSON decode (P1, P2, S5).

Reference semantics: ``json_dict_parse(json_str, conversion_dict)``
(``audit_utils/utils.py:23-60``) parses a flat JSON object and keeps only
the keys named in ``conversion_dict`` (``{new_key: old_key}``), renaming
them. A record missing a mapped key raises KeyError in the reference
(utils.py:58) and kills the batch; here malformed/missing records are
routed to a permissive path instead (``from_json`` PERMISSIVE + a
``_corrupt_record`` column) so one bad message can't stall a 100 TB
stream.

Spark-first: ``from_json`` + ``select(alias...)`` — Catalyst's
``OptimizeJsonExprs`` prunes the JSON parse down to only the referenced
fields, so the conversion map doubles as column pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def project_fields(df: DataFrame, conversion: dict[str, str]) -> DataFrame:
    """Project + rename existing columns: ``{new_name: old_name}`` (P2)."""
    return df.select(*[F.col(old).alias(new) for new, old in conversion.items()])


def infer_flat_schema(conversion: dict[str, str], bucket_field_src: str | None = None) -> T.StructType:
    """Build a permissive flat StructType for the mapped source keys.

    The reference never declares message types (values are whatever
    ``json.loads`` yields); StringType for every field plus Spark's later
    casts reproduces that forgiving behavior while keeping the decode
    JVM-side.
    """
    fields = {old: T.StringType() for old in conversion.values()}
    if bucket_field_src is not None:
        fields.setdefault(bucket_field_src, T.StringType())
    return T.StructType([T.StructField(name, dtype, True) for name, dtype in fields.items()])


def decode_json_values(
    df: DataFrame,
    conversion: dict[str, str],
    value_col: str = "value",
    schema: T.StructType | None = None,
    bucket_field_src: str | None = None,
    keep_corrupt: bool = False,
    bucket_field_alias: str | None = None,
) -> DataFrame:
    """JSON-string column -> projected/renamed columns (S5 + P2 fused).

    ``conversion`` maps ``{new_key: old_json_key}``. Optionally keeps the
    raw value of unparseable records in ``_corrupt_record`` (dead-letter
    path; the reference would instead crash the batch, utils.py:58).

    The bucket source field is read from the RAW parsed record regardless
    of the conversion map — same as the reference, which buckets from the
    undecoded dict (utils.py:93-94). With ``bucket_field_alias`` set, it
    is always appended under that (reserved) name, so a conversion map
    that renames or drops the source field can't break the bucketing
    stage. Without an alias it is appended under its own name when no
    identity mapping already carries it.
    """
    if schema is None:
        schema = infer_flat_schema(conversion, bucket_field_src)
    options = {"mode": "PERMISSIVE"}
    if keep_corrupt:
        # PERMISSIVE mode yields an all-NULL struct for malformed input
        # (not a NULL struct), so corrupt rows are only detectable via
        # the dedicated corrupt-record field declared IN the schema
        if CORRUPT_COL not in schema.fieldNames():
            # copy — StructType.add mutates in place, and the schema may
            # be a caller-owned object reused elsewhere
            schema = T.StructType(
                list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
            )
        options["columnNameOfCorruptRecord"] = CORRUPT_COL
    parsed = df.withColumn(
        "_j",
        F.from_json(F.col(value_col).cast("string"), schema, options),
    )
    cols = [F.col(f"_j.{old}").alias(new) for new, old in conversion.items()]
    if bucket_field_src is not None:
        if bucket_field_alias is not None:
            cols.append(F.col(f"_j.{bucket_field_src}").alias(bucket_field_alias))
        elif conversion.get(bucket_field_src) != bucket_field_src:
            # no identity-mapped output column carries the source value;
            # re-append it (covers both "not projected at all" and
            # "projected under a new name")
            cols.append(F.col(f"_j.{bucket_field_src}").alias(bucket_field_src))
    if keep_corrupt:
        cols.append(F.col(f"_j.{CORRUPT_COL}").alias(CORRUPT_COL))
    return parsed.select(*cols)

