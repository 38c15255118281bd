package graft
package queries

import graft.functions.{TextFunctions => TF}

/** DuckDB SQL fragments that the oracles of several query families share. */
private[queries] object SharedSql {

  /** Strings as a DuckDB list literal (the stopword lists the Spark side uses). */
  def sqlList(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("[", ",", "]")

  /** The lower-cased whitespace tokens of `text`, empty tokens dropped. */
  val duckToks =
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0)"

  /** Per-doc quality score — shared by q_quality_score and (wrapped in a
    * per-language window) q_top_quality_docs.
    */
  val duckQualitySql =
    s"""WITH q AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS raw_toks,
       |    $duckToks AS low_toks
       |  FROM documents
       |)
       |SELECT doc_id, round(
       |  least(len(text) / 500.0, 1.0) * 0.3
       |  + (CASE WHEN (CASE WHEN len(text) > 0
       |       THEN CAST(len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / len(text)
       |       ELSE 0.0 END) <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
       |  + least((CASE WHEN len(low_toks) > 0
       |       THEN CAST(len(list_filter(low_toks, x -> list_contains(${sqlList(TF.stopwords("en"))}, x))) AS DOUBLE) / len(low_toks)
       |       ELSE 0.0 END) * 5.0, 1.0) * 0.3
       |  + (CASE WHEN (CASE WHEN len(raw_toks) > 0
       |       THEN CAST(list_sum(list_transform(raw_toks, x -> len(x))) AS DOUBLE) / len(raw_toks)
       |       ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.2,
       |  6) AS quality
       |FROM q""".stripMargin

  /** Unsigned HUGEINT (mod 2^64) → signed BIGINT reinterpretation. */
  def duckU2S(v: String): String =
    s"CASE WHEN $v >= 9223372036854775808 THEN CAST($v - 18446744073709551616 AS BIGINT) ELSE CAST($v AS BIGINT) END"

  /** FNV-1a 64 of an ASCII varchar SQL expression as an unsigned HUGEINT —
    * the round-2 replication technique proven by q_multimodal_meta: the
    * wrapping 64-bit multiply runs mod 2^64 in HUGEINT, and the byte xor
    * touches only the low 8 bits so it runs as BIGINT xor on `h % 256`.
    * Valid because the corpus is ASCII (`ord(char) == byte`, asserted by
    * q_multimodal_bytes matching octet_length to len).
    */
  def duckFnvU(v: String): String =
    s"""list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      [CAST(ord($v[i]) AS HUGEINT) FOR i IN range(1, len($v)+1)]),
       |    (a, b) -> ((a - (a % 256) + xor(CAST(a % 256 AS BIGINT), CAST(b AS BIGINT))) * 1099511628211) % 18446744073709551616)""".stripMargin

  val duckCos =
    """list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) FOR i IN range(1, 65)]) /
      |(sqrt(list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE) FOR i IN range(1, 65)])) *
      | sqrt(list_sum([CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) FOR i IN range(1, 65)])))""".stripMargin

  /** CTE chain producing exact 5-gram Jaccard pairs ≥ 0.8 as `jpairs(a, b,
    * jaccard)` — shared by the jaccard/minhash oracles and (wrapped in a
    * recursive CTE) the connected-components oracle.
    */
  val duckShingleCtes =
    s"""toksrc AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), sh AS (
       |  SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w)-3)]) AS shingles
       |  FROM toksrc WHERE len(w) >= 5
       |), inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       |  FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2
       |), jpairs AS (
       |  SELECT a, b, round(inter / (sa.n + sb.n - inter), 6) AS jaccard
       |  FROM pairs
       |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON a = sa.doc_id
       |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON b = sb.doc_id
       |  WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.8
       |)""".stripMargin
}
