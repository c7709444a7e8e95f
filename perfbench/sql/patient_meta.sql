-- The patient profile row: profile writes are the patient's signup
-- events that pass validation (ids % 101, 97, 103, 107 carry a missing
-- id, a bad schema version, a bad birth date, an unknown property);
-- a write whose idempotency key (event id % 5) repeats the previous
-- applied write's key is a replay and not applied.
CREATE OR REPLACE TEMP TABLE meta AS
WITH w AS (
  SELECT user_id, ts, event_id, event_id % 5 AS ik,
    lag(event_id % 5) OVER (ORDER BY ts, event_id) AS prev_ik
  FROM ev
  WHERE batch < $landed AND user_id = $patient AND event_type = 'signup'
    AND event_id % 101 <> 0 AND event_id % 97 <> 0
    AND event_id % 103 <> 0 AND event_id % 107 <> 0
)
SELECT 't' || (user_id % 4) AS tenant_id, user_id AS patient_id,
  'patient-' || user_id AS name,
  strftime(DATE '1950-01-01' + CAST((user_id * 37) % 18250 AS INTEGER), '%Y-%m-%d')
    AS birth_date,
  count(*) AS version, epoch_us(max(ts)) AS last_updated
FROM w WHERE prev_ik IS NULL OR ik <> prev_ik
GROUP BY user_id;
