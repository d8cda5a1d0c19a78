-- DuckDB oracle for q_flagship (confluent_example_firehose_spark/flagship.py),
-- which has no registered oracle: JSON parse -> left-join enrich with
-- identity fallbacks -> last value per key by (ts, event_id).
WITH en AS (
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
           CAST(json_extract(e.props, '$.k') AS INTEGER) AS k_val,
           coalesce(c.c_mktsegment, 'NONE') AS segment,
           coalesce(n.n_name, 'UNKNOWN') AS nation_name
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
),
ranked AS (
    SELECT *,
           row_number() OVER w AS rn,
           count(*) OVER (PARTITION BY user_id, event_type, segment, nation_name) AS n_events,
           sum(k_val) OVER (PARTITION BY user_id, event_type, segment, nation_name) AS sum_k
    FROM en
    WINDOW w AS (PARTITION BY user_id, event_type, segment, nation_name
                 ORDER BY ts DESC, event_id DESC)
)
SELECT user_id, event_type, segment, nation_name,
       value AS last_value, ts AS last_ts, n_events, sum_k
FROM ranked
WHERE rn = 1
