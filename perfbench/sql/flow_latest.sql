-- Per (patient, code): the number of valid observations and the latest
-- one. Defects the adapters inject by event id: a non-numeric value
-- (id % 97), an empty code (id % 101), an infinite value (id % 103).
-- Values travel as two-decimal strings; times keep their microseconds.
WITH valid AS (
  SELECT CAST(user_id AS VARCHAR) AS patient_id, event_type AS code, event_id, ts,
    CAST(CAST(value AS DECIMAL(18, 2)) AS DOUBLE) AS value
  FROM ev
  WHERE event_id % 97 <> 0 AND event_id % 101 <> 0 AND event_id % 103 <> 0
)
SELECT patient_id, code,
  count(*) OVER (PARTITION BY patient_id, code) AS n_observations,
  value AS latest_value, epoch_us(ts) AS latest_effective
FROM valid
QUALIFY row_number() OVER (PARTITION BY patient_id, code
                           ORDER BY ts DESC, event_id DESC) = 1
ORDER BY patient_id, code;
