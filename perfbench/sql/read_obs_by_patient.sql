-- observationsByPatient: one patient's observations of one code in
-- [from, to), ascending by (ts, event_id), at most `limit`.
SELECT 't' || (user_id % 4) AS tenant_id, event_id, user_id, event_type,
  epoch_us(ts) AS ts, value
FROM ev
WHERE batch < $landed AND user_id = $patient AND event_type = $code
  AND ts >= CAST($from AS TIMESTAMP) AND ts < CAST($to AS TIMESTAMP)
ORDER BY ts, event_id
LIMIT $limit;
