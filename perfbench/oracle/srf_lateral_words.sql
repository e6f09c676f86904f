SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word
      FROM documents WHERE lang = 'en') t
GROUP BY word ORDER BY n DESC, word LIMIT 25
