-- latestObservation: the latest observation of every (patient, code)
-- of one tenant (patients with id % 4 = tenant).
SELECT 't' || (user_id % 4) AS tenant_id, event_id, user_id, event_type,
  epoch_us(ts) AS ts, value
FROM ev
WHERE batch < $landed AND user_id % 4 = $tenant
QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1;
