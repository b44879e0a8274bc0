"""Output oracle for the order-stream benchmark.

Expected outcomes come from the generator's truth file and the reference
consumer's rules (consumer.py), applied to the price after the Avro float
round trip. They never come from the pipeline's own router. For each
drain it checks that:

1. per-sink counts match: each input row reaches the sink its rule
   names, and each transient row lands once in the retry sink;
2. every transient row leaves the retry loop for the DLQ with
   attempts = 4 and the exhaustion message;
3. no (topic, partition, offset) appears twice across the final sinks,
   and none appears that was not in the input;
4. DLQ `value` bytes equal the original input bytes;
5. the final running count, sum and mean equal those of the successes.

Each input row with any mismatch counts once, as does each unexpected
sink row and each wrong aggregate value.
"""

import glob
import math
import os

import duckdb

MAX_RETRIES = 3
EXHAUSTED = "Processing failed after 3 retries"


def _view(con, name, pattern, columns):
    """A view over the parquet files matching `pattern`, or an empty one
    with `columns` (name -> SQL type) when a sink wrote nothing."""
    if glob.glob(pattern):
        con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{pattern}', hive_partitioning = true, filename = true)")
    else:
        cols = ", ".join(f"NULL::{t} AS {c}" for c, t in columns.items())
        con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT {cols} LIMIT 0")


def load(con, topic_dir, truth_dir, rep_dir):
    """Registers the input, truth and sink views of one drain."""
    con.execute("CREATE OR REPLACE TEMP VIEW truth AS SELECT \"offset\", price, corrupt, "
                "CAST(CAST(price AS FLOAT) AS DOUBLE) AS p "
                f"FROM read_parquet('{truth_dir}/*.parquet')")
    con.execute("CREATE OR REPLACE TEMP VIEW topic AS SELECT topic, partition, \"offset\", value, "
                "regexp_extract(filename, '[^/]+$') AS file "
                f"FROM read_parquet('{topic_dir}/*.parquet', filename = true)")
    _view(con, "success", f"{rep_dir}/out/success/*/*.parquet",
          {"topic": "VARCHAR", "partition": "INT", "offset": "BIGINT", "price": "DOUBLE",
           "batch": "BIGINT"})
    _view(con, "dlq", f"{rep_dir}/out/dlq/*/*.parquet",
          {"value": "BLOB", "headers": "STRUCT(key VARCHAR, value BLOB)[]", "batch": "BIGINT"})
    _view(con, "retry", f"{rep_dir}/out/retry/*/*.parquet",
          {"topic": "VARCHAR", "partition": "INT", "offset": "BIGINT", "attempts": "INT",
           "batch": "BIGINT"})
    _view(con, "exhausted", f"{rep_dir}/retry-dlq/*/*.parquet",
          {"topic": "VARCHAR", "partition": "INT", "offset": "BIGINT", "value": "BLOB",
           "attempts": "INT", "error_reason": "VARCHAR"})
    con.execute("""
        CREATE OR REPLACE TEMP VIEW expected AS
        SELECT "offset", p,
               CASE WHEN corrupt >= 0 THEN 'dlq'
                    WHEN p IS NULL OR p < 0 THEN 'dlq'
                    WHEN p BETWEEN 5 AND 50 THEN 'exhausted'
                    WHEN p > 1000 THEN 'dlq'
                    ELSE 'success' END AS outcome
        FROM truth""")
    con.execute("""
        CREATE OR REPLACE TEMP VIEW dlq_rows AS
        SELECT decode(list_filter(headers, h -> h.key = 'original_topic')[1].value) AS topic,
               CAST(decode(list_filter(headers, h -> h.key = 'original_partition')[1].value)
                    AS INT) AS partition,
               CAST(decode(list_filter(headers, h -> h.key = 'original_offset')[1].value)
                    AS BIGINT) AS "offset",
               value, batch
        FROM dlq""")
    con.execute("""
        CREATE OR REPLACE TEMP VIEW finals AS
        SELECT topic, partition, "offset", 'success' AS sink, NULL::BLOB AS value,
               NULL::INT AS attempts, NULL::VARCHAR AS reason, price
        FROM success
        UNION ALL
        SELECT topic, partition, "offset", 'dlq', value, NULL, NULL, NULL FROM dlq_rows
        UNION ALL
        SELECT topic, partition, "offset", 'exhausted', value, attempts, error_reason, NULL
        FROM exhausted""")


def check_rep(con, topic_dir, truth_dir, rep_dir, aggregate):
    """Returns (rows attempted, failures, sink row counts) of one drain.
    `aggregate` is the final [count, sum, mean] the running aggregate
    emitted, or None if it emitted nothing."""
    load(con, topic_dir, truth_dir, rep_dir)
    bad_rows = con.execute(f"""
        WITH f AS (
            SELECT "offset", count(*) AS n, any_value(sink) AS sink,
                   any_value(value) AS value, any_value(attempts) AS attempts,
                   any_value(reason) AS reason, any_value(price) AS price
            FROM finals WHERE topic = 'orders' AND partition = 0 GROUP BY "offset"),
        r AS (SELECT "offset", count(*) AS n, min(attempts) AS attempts
              FROM retry WHERE topic = 'orders' AND partition = 0 GROUP BY "offset")
        SELECT count(*) FROM expected e
        LEFT JOIN f USING ("offset")
        LEFT JOIN r USING ("offset")
        LEFT JOIN topic t ON t."offset" = e."offset"
        WHERE f.n IS DISTINCT FROM 1
           OR f.sink IS DISTINCT FROM e.outcome
           OR (f.sink <> 'success' AND f.value IS DISTINCT FROM t.value)
           OR (f.sink = 'success' AND f.price IS DISTINCT FROM e.p)
           OR (f.sink = 'exhausted'
               AND (f.attempts IS DISTINCT FROM {MAX_RETRIES + 1}
                    OR f.reason IS DISTINCT FROM '{EXHAUSTED}'))
           OR (e.outcome = 'exhausted'
               AND (r.n IS DISTINCT FROM 1 OR r.attempts IS DISTINCT FROM 1))
           OR (e.outcome <> 'exhausted' AND r.n IS NOT NULL)""").fetchone()[0]
    extra = con.execute("""
        SELECT count(*) FROM finals f
        WHERE NOT coalesce(f.topic = 'orders' AND f.partition = 0
                           AND f."offset" IN (SELECT "offset" FROM truth), false)""").fetchone()[0]
    rows, n_ok, s_ok = con.execute(
        "SELECT count(*), count(*) FILTER (outcome = 'success'), "
        "sum(p) FILTER (outcome = 'success') FROM expected").fetchone()
    agg_bad = _aggregate_mismatches(aggregate, n_ok, s_ok or 0.0)
    counts = {sink: con.execute(f"SELECT count(*) FROM {view}").fetchone()[0]
              for sink, view in (("success", "success"), ("dlq", "dlq"), ("retry", "retry"))}
    return rows, bad_rows + extra + agg_bad, counts


def _aggregate_mismatches(aggregate, count, total):
    """Wrong values among the final (count, sum, mean). Sums of doubles
    depend on order, so sum and mean compare to a relative 1e-9."""
    if count == 0:
        return 0 if aggregate is None or aggregate[0] == 0 else 1
    if aggregate is None:
        return 3
    got_n, got_sum, got_mean = aggregate
    close = lambda a, b: a is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return ((got_n != count) + (not close(got_sum, total))
            + (not close(got_mean, total / count)))


def file_batches(con):
    """file -> (last fan-out batch holding one of its rows, its rows), for
    the drain loaded by `load`; a file's result is committed with that
    batch."""
    return {f: (b, n) for f, b, n in con.execute("""
        WITH b AS (SELECT "offset", batch FROM success
                   UNION ALL SELECT "offset", batch FROM dlq_rows
                   UNION ALL SELECT "offset", batch FROM retry)
        SELECT t.file, max(b.batch), count(*) FROM topic t JOIN b USING ("offset")
        GROUP BY t.file""").fetchall()}


def sink_bytes(rep_dir):
    """Bytes of parquet written to each fan-out sink of a drain."""
    return {sink: sum(os.path.getsize(f)
                      for f in glob.glob(f"{rep_dir}/out/{sink}/*/*.parquet"))
            for sink in ("success", "dlq", "retry")}


def connect():
    return duckdb.connect(config={"threads": 2})
