-- The events table as the program saw it: the base file plus every
-- landed batch, each row tagged with its batch (-1 for the base).
CREATE OR REPLACE TABLE ev AS
SELECT event_id, ts, user_id, event_type, value,
  CASE WHEN filename LIKE '%batch-%'
       THEN CAST(regexp_extract(filename, 'batch-([0-9]+)', 1) AS INTEGER)
       ELSE -1 END AS batch
FROM read_parquet($files, filename = true);
