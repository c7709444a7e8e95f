-- One corpus shard's documents with their non-empty tokens.
CREATE OR REPLACE TABLE docs AS
SELECT doc_id, text, list_filter(str_split(text, ' '), x -> x <> '') AS toks
FROM read_parquet($documents);
