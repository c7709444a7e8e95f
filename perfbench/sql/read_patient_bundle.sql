-- patientBundle: the profile row, the latest observation of the code
-- and the number of its observations in [from, to).
WITH obs AS (
  SELECT * FROM ev WHERE batch < $landed AND user_id = $patient AND event_type = $code
)
SELECT m.*, c.c_mktsegment AS segment, c.c_acctbal AS balance,
  (SELECT epoch_us(ts) FROM obs ORDER BY ts DESC, event_id DESC LIMIT 1) AS latest_obs_ts,
  (SELECT value FROM obs ORDER BY ts DESC, event_id DESC LIMIT 1) AS latest_obs_value,
  (SELECT count(*) FROM obs WHERE ts >= CAST($from AS TIMESTAMP)
     AND ts < CAST($to AS TIMESTAMP)) AS n_obs_window
FROM meta m LEFT JOIN customer c ON c.c_custkey = m.patient_id;
