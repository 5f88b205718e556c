"""TRANSFORM ... USING 'script' — the reference's ScriptOperator.

Hive pipes rows through an external process (ScriptOperator, 20,053 B —
SURVEY.md §2.1); Spark SQL supports the same `SELECT TRANSFORM`
syntax natively. No-serde mode uses HIVE'S default row format — fields
delimited by \\x01 (^A), rows by newline — NOT tabs (verified by
hex-dumping the child's stdin; a tab-splitting script sees one giant
field and dies). The script is materialized under the repo scratch dir
at query time so the query stays self-contained.

Scale notes: each task pipes its partition through one child process —
the same fan-out as Hive's script operator; prefer mapInPandas (Arrow)
for new code, TRANSFORM exists for HiveQL compatibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.registry import query
from hive_service_spark.scratch import stage_text

_SCRIPT = r"""#!/usr/bin/env python3
import sys

SEP = "\x01"  # Hive default field delimiter in no-serde TRANSFORM
for line in sys.stdin:
    event_type, user_id = line.rstrip("\n").split(SEP)
    print(f"{event_type.upper()}{SEP}{int(user_id) * 2 + 1}")
"""

_TRANSFORM_ORACLE = """
SELECT event_type_u, COUNT(*) AS n, CAST(SUM(uid2) AS BIGINT) AS uid2_sum
FROM (
  SELECT upper(event_type) AS event_type_u, user_id * 2 + 1 AS uid2
  FROM events
)
GROUP BY event_type_u
ORDER BY event_type_u
"""


@query("transform_script_pipe", oracle=_TRANSFORM_ORACLE)
def transform_script_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT TRANSFORM(...) USING an external python script
    (integer-only arithmetic so the text round-trip is exact), then
    aggregate the script output. The oracle recomputes the script's
    transformation in SQL."""
    script_path = stage_text(_SCRIPT, "transform_upper.py")
    return catalog.sql(
        spark,
        sf_dir,
        f"""
        SELECT event_type_u, COUNT(*) AS n, CAST(SUM(uid2) AS BIGINT) AS uid2_sum
        FROM (
          SELECT TRANSFORM(event_type, user_id)
            USING 'python3 {script_path}'
            AS (event_type_u STRING, uid2 BIGINT)
          FROM events
        )
        GROUP BY event_type_u
        ORDER BY event_type_u
        """
    )


_DELIM_SCRIPT = r"""#!/usr/bin/env python3
import sys

SEP = ","          # FIELDS TERMINATED BY ','
NULLS = "\\N"      # NULL DEFINED AS '\N' (the Hive default sentinel)
for line in sys.stdin:
    event_type, uid = line.rstrip("\n").split(SEP)
    # NULL-aware arithmetic: the sentinel must round-trip back out so
    # Spark reads it as a real NULL on the output side
    out = NULLS if uid == NULLS else str(int(uid) * 3)
    print(f"{event_type.upper()}{SEP}{out}")
"""

_DELIM_ORACLE = """
SELECT event_type_u,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(uid3) AS BIGINT) AS n_nonnull,
       CAST(COALESCE(SUM(uid3), 0) AS BIGINT) AS uid3_sum
FROM (
  SELECT upper(event_type) AS event_type_u,
         CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id * 3 END AS uid3
  FROM events
)
GROUP BY event_type_u
ORDER BY event_type_u
"""


@query("transform_script_delimited", oracle=_DELIM_ORACLE)
def transform_script_delimited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ScriptOperator serde configurability: TRANSFORM with explicit
    ``ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' NULL DEFINED AS``
    on BOTH sides of the pipe (reference: ScriptOperator's
    LazySimpleSerDe row-format properties — field.delim / serialization
    .null.format). A NULL-bearing input column proves the sentinel
    round-trip: Spark writes NULL as '\\N', the child script passes the
    sentinel through, Spark reads it back as a true NULL — verified by
    the oracle's separate COUNT(*) vs COUNT(col) and the
    NULL-excluding SUM. Integer-only arithmetic keeps the text
    round-trip exact. Same per-task process fan-out as the default
    protocol variant (transform_script_pipe)."""
    script_path = stage_text(_DELIM_SCRIPT, "transform_delim.py")
    return catalog.sql(
        spark,
        sf_dir,
        f"""
        SELECT event_type_u,
               COUNT(*) AS n,
               CAST(COUNT(uid3) AS BIGINT) AS n_nonnull,
               CAST(COALESCE(SUM(uid3), 0) AS BIGINT) AS uid3_sum
        FROM (
          SELECT TRANSFORM(
                   event_type,
                   CASE WHEN user_id % 10 = 0 THEN CAST(NULL AS BIGINT)
                        ELSE user_id END)
            ROW FORMAT DELIMITED
              FIELDS TERMINATED BY ','
              NULL DEFINED AS '\\\\N'
            USING 'python3 {script_path}'
            AS (event_type_u STRING, uid3 BIGINT)
            ROW FORMAT DELIMITED
              FIELDS TERMINATED BY ','
              NULL DEFINED AS '\\\\N'
          FROM events
        )
        GROUP BY event_type_u
        ORDER BY event_type_u
        """
    )
