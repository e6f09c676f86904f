SELECT doc_id,
  CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tokens,
  CAST(len(list_distinct(string_split(lower(text), ' '))) AS INT) AS n_uniq_tokens,
  length(text) AS n_chars,
  round(CAST(length(text) AS DOUBLE) / len(string_split(lower(text), ' ')), 6) AS avg_tok_len,
  round(CAST(len(list_filter(string_split(lower(text), ' '),
      x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
    / len(string_split(lower(text), ' ')), 6) AS stopword_ratio,
  round(CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE)
    / length(text), 6) AS vowel_ratio,
  round(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
    / len(string_split(lower(text), ' ')), 6) AS ttr
FROM documents WHERE doc_id < 200 ORDER BY doc_id
