-- The survivors of one corpusPrep manifest, with what the checks test:
-- their token lists and normalised-text fingerprints.
CREATE OR REPLACE TABLE survivors AS
SELECT m.doc_id, m.n_tokens, m.token_offset, d.toks,
  md5(trim(regexp_replace(regexp_replace(lower(d.text), '[^a-z0-9 ]', ' ', 'g'),
    ' +', ' ', 'g'))) AS fingerprint
FROM manifest m JOIN docs d USING (doc_id);
