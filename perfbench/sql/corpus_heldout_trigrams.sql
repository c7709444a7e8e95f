-- Survivors sharing a word trigram with the held-out slice (doc_id % 10
-- = 0). Trigrams come from each document's first $window tokens: 60 is
-- the shingle window corpusPrep decontaminates, a larger value the
-- whole text.
WITH tri AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS t
  FROM (SELECT doc_id, toks[1:$window] AS w FROM docs) WHERE len(w) >= 3
), held AS (SELECT DISTINCT t FROM tri WHERE doc_id % 10 = 0)
SELECT DISTINCT s.doc_id
FROM survivors s JOIN tri USING (doc_id) JOIN held USING (t)
ORDER BY s.doc_id;
