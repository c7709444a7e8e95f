-- obsStats: per (patient, code) of one tenant, the count, min, max,
-- mean (exact decimal sum / count, 6 places) and the latest observation.
WITH t AS (
  SELECT * FROM ev WHERE batch < $landed AND user_id % 4 = $tenant
), latest AS (
  SELECT user_id, event_type, epoch_us(ts) AS latest_us, event_id AS latest_event_id,
    value AS latest_value
  FROM t
  QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                             ORDER BY ts DESC, event_id DESC) = 1
)
SELECT 't' || (user_id % 4) AS tenant_id, user_id, event_type,
  count(*) AS n_obs, min(value) AS min_value, max(value) AS max_value,
  round(CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) / count(*), 6) AS avg_value,
  any_value(latest_us), any_value(latest_event_id), any_value(latest_value)
FROM t JOIN latest USING (user_id, event_type)
GROUP BY user_id, event_type;
