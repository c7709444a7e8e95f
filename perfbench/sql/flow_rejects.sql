-- Reject classes in validation order: value first, then code, then the
-- FHIR check that catches the infinite value.
SELECT CASE WHEN event_id % 97 = 0 THEN 'dto_value_invalid'
            WHEN event_id % 101 = 0 THEN 'dto_code_empty'
            WHEN event_id % 103 = 0 THEN 'fhir_invalid'
            ELSE 'valid' END AS reason,
  count(*) AS n
FROM ev GROUP BY ALL ORDER BY reason;
