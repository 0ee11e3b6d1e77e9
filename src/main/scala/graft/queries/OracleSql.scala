package graft.queries

/** The DuckDB oracle SQL fragments that more than one oracle uses,
  * each written once. Every fragment is the exact text its callers
  * used to paste, so an oracle built from them is byte-identical to
  * the pasted form.
  */
private[queries] object OracleSql {

  /** The whitespace set the engine's Java `\s` trims: DuckDB's
    * `trim(x)` strips spaces only.
    */
  val ws: String = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"

  /** The 64 per-bit sums of a doc's md5 token hashes (`h1` carries
    * bits 0–31, `h2` bits 32–63), one `b<i>` column each.
    */
  val simhashBitSums: String =
    ((0 until 32).map(b => s"sum((h1 >> $b) & 1) AS b$b") ++
      (32 until 64).map(b => s"sum((h2 >> ${b - 32}) & 1) AS b$b"))
      .mkString(", ")

  /** The strict-majority signature over [[simhashBitSums]]' `n` and
    * `b<i>` columns: its low (bits 0–31) and high (32–63) halves.
    */
  val simhashLo: String = majorityBits(0 until 32, 0)
  val simhashHi: String = majorityBits(32 until 64, 32)

  private def majorityBits(bits: Range, shift: Int): String = bits
    .map(b => s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << ${b - shift}) ELSE 0 END")
    .mkString(" + ")

  /** A document's lowercased whitespace tokens, `[]` for a blank
    * `text`; the ELSE branch starts a new line at `elseIndent`.
    */
  def wsTokensLower(elseIndent: Int): String =
    s"CASE WHEN length(trim(text, $ws)) = 0 THEN []::VARCHAR[]\n${" " * elseIndent}" +
      s"ELSE regexp_split_to_array(trim(lower(text), $ws), '\\s+') END"

  /** A document's whitespace-token count, 0 for a blank `text`; the
    * ELSE branch starts a new line at `elseIndent`.
    */
  def wsTokenCount(elseIndent: Int): String =
    s"CASE WHEN length(trim(text, $ws)) = 0 THEN 0\n${" " * elseIndent}" +
      s"ELSE len(regexp_split_to_array(trim(text, $ws), '\\s+')) END"

  /** The md5-SimHash replay as the CTE chain `toks → h → agg → sig`:
    * whitespace tokens of `text` from `src`, two 32-bit md5 halves per
    * token, the bit sums, and `sig(doc_id, lo, hi)`.
    */
  def simhashSigCtes(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, unnest(CASE WHEN length(trim(text, $ws)) = 0
       |      THEN []::VARCHAR[]
       |      ELSE regexp_split_to_array(trim(text, $ws), '\\s+') END) AS w
       |  FROM $src
       |), h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(w), 1, 8))::UBIGINT::BIGINT AS h1,
       |    ('0x' || substr(md5(w), 9, 8))::UBIGINT::BIGINT AS h2
       |  FROM toks
       |), agg AS (
       |  SELECT doc_id, count(*) AS n, $simhashBitSums
       |  FROM h GROUP BY 1
       |), sig AS MATERIALIZED (
       |  SELECT doc_id, $simhashLo AS lo, $simhashHi AS hi FROM agg
       |)""".stripMargin

  /** The word-bigram shingle set of a `toks` array, with `wrap` as the
    * layout between the bigram and its range.
    */
  private def bigrams(wrap: String): String =
    s"list_distinct([array_to_string(toks[i:i+2], ' ')${wrap}for i in range(1, len(toks)-1)]) s"

  /** [[bigrams]] wrapped onto a second line. */
  val wrappedBigrams: String = bigrams("\n" + " " * 19)

  /** `sh(doc_id, s)`: the bigram shingle set of every document with at
    * least three whitespace tokens.
    */
  val shingles: String =
    s"""sh AS (
       |  SELECT doc_id,
       |    ${bigrams(" ")}
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, $ws), '\\s+') toks FROM documents)
       |  WHERE len(toks) >= 3
       |)""".stripMargin

  /** [[shingles]] over the documents `docs` names, laid out wrapped. */
  def shinglesWrapped(docs: String): String =
    s"""sh AS (
       |  SELECT doc_id,
       |    $wrappedBigrams
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, $ws),
       |                '\\s+') toks
       |        FROM $docs)
       |  WHERE len(toks) >= 3
       |)""".stripMargin

  /** `norm(<cols>, nt)`: each document's text lowercased, stripped to
    * letters, digits and whitespace, whitespace runs collapsed.
    */
  def normCte(cols: String): String =
    s"""norm AS (
       |  SELECT $cols,
       |    trim(regexp_replace(regexp_replace(lower(text),
       |      '[^\\p{L}\\p{N}\\s]', '', 'g'), '\\s+', ' ', 'g')) AS nt
       |  FROM documents
       |)""".stripMargin

  /** The BM25 ladder `norm → tok → dl → st → tf → dfc → scored`:
    * `scored(doc_id, s)` scores each document against the query
    * `terms` (an SQL IN-list) with k1 = 1.2 and b = 0.75.
    */
  def bm25Scored(terms: String): String =
    s"""${normCte("doc_id")}, tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(nt, ' ')) AS term
       |  FROM norm WHERE length(nt) > 0
       |), dl AS (
       |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
       |), st AS (
       |  SELECT count(*) AS n, sum(dl)*1.0/count(*) AS avgdl FROM dl
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ($terms) GROUP BY 1, 2
       |), dfc AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY 1
       |), scored AS (
       |  SELECT tf.doc_id,
       |    sum(ln(1 + ((SELECT n FROM st) - dfc.df + 0.5) / (dfc.df + 0.5))
       |      * (tf.tf * (1.2::DOUBLE + 1))
       |      / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE
       |          + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM st)))) AS s
       |  FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id)
       |  GROUP BY 1
       |)""".stripMargin

  /** The int8 (SQ8) codes of the 64-dim `embedding` of `src`, as
    * scalar rows: `el(vec_id, dim, x)`, the per-vector scale
    * `sc(vec_id, scale)` and the codes `qv(vec_id, dim, q)`.
    */
  def sq8Codes(src: String): String =
    s"""el AS (
       |  SELECT vec_id, d AS dim, CAST(embedding[d] AS DOUBLE) AS x
       |  FROM $src CROSS JOIN generate_series(1, 64) AS g(d)
       |), sc AS (
       |  SELECT vec_id, max(abs(x)) AS scale FROM el GROUP BY 1
       |), qv AS (
       |  SELECT el.vec_id, el.dim,
       |    CASE WHEN sc.scale = 0 THEN 0
       |         ELSE CAST(floor(x / sc.scale * 127.0 + 0.5) AS BIGINT)
       |    END AS q
       |  FROM el JOIN sc USING (vec_id)
       |)""".stripMargin

  /** The Morton bit-spread steps `s2 … s5` over the 16-bit spread
    * `s1(id, ox, oy, sx, sy)`, with the engine's masks as decimal
    * literals; ends with a comma, ready for the interleave CTE.
    */
  val mortonSpread: String =
    """s2 AS (SELECT id, ox, oy,
      |    (sx | (sx << 8)) & 71777214294589695 AS sx,
      |    (sy | (sy << 8)) & 71777214294589695 AS sy FROM s1),
      |s3 AS (SELECT id, ox, oy,
      |    (sx | (sx << 4)) & 1085102592571150095 AS sx,
      |    (sy | (sy << 4)) & 1085102592571150095 AS sy FROM s2),
      |s4 AS (SELECT id, ox, oy,
      |    (sx | (sx << 2)) & 3689348814741910323 AS sx,
      |    (sy | (sy << 2)) & 3689348814741910323 AS sy FROM s3),
      |s5 AS (SELECT id, ox, oy,
      |    (sx | (sx << 1)) & 6148914691236517205 AS sx,
      |    (sy | (sy << 1)) & 6148914691236517205 AS sy FROM s4),""".stripMargin

  /** The per-user retention spans: `pu(u, start, last)`, the cohort
    * (first event type) `first_ev(u, cohort)`, the calendar end `fin`
    * and `spans(cohort, t, censored)`, censored when the user was seen
    * within 7 days of the end.
    */
  val retentionSpans: String =
    """pu AS (
      |  SELECT user_id AS u, min(ts::DATE) AS start, max(ts::DATE) AS last
      |  FROM events GROUP BY 1
      |), first_ev AS (
      |  SELECT user_id AS u, event_type AS cohort FROM (
      |    SELECT user_id, event_type,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |    FROM events) WHERE rn = 1
      |), fin AS (SELECT max(ts::DATE) AS fin FROM events),
      |spans AS (
      |  SELECT f.cohort, CAST(p.last - p.start AS BIGINT) AS t,
      |    (fin.fin - p.last) < 7 AS censored
      |  FROM pu p JOIN first_ev f USING (u) CROSS JOIN fin
      |)""".stripMargin

  /** The opening of the shard-packing walks: a recursive WITH whose
    * first CTE is `items(shard, doc_id, cost)`, each non-blank
    * document's whitespace-token count, sharded by id mod 8.
    */
  val packItems: String =
    s"""WITH RECURSIVE items AS (
       |  SELECT CAST(doc_id % 8 AS INTEGER) AS shard, doc_id,
       |    CAST(len(regexp_split_to_array(trim(text, $ws), '\\s+'))
       |      AS BIGINT) AS cost
       |  FROM documents
       |  WHERE text IS NOT NULL AND length(trim(text, $ws)) > 0
       |)""".stripMargin

  /** The body of a chunk CTE `(doc_id, chunk_id, h)`: md5 of each
    * 16-token window at stride 13 over `src(doc_id, toks)`.
    */
  def chunkWindows(src: String): String =
    s"""  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       |    md5(array_to_string(toks[(i*13+1):(i*13+16)], ' ')) AS h
       |  FROM (
       |    SELECT doc_id, toks,
       |      unnest(range(greatest(1,
       |        CAST(ceil((len(toks) - 3) / 13.0) AS BIGINT)))) AS i
       |    FROM $src)""".stripMargin

  /** `iters` power iterations of PageRank (d = 0.85) unrolled as
    * MATERIALIZED CTE pairs `dang<i>`/`r<i>` over `r0`, `nodes`,
    * `deg` and `edges` in scope. `tele` applies the teleport weight
    * (`/ (SELECT n FROM nn)` or `* t.t`) and `from` names the node
    * rows that carry it.
    */
  def pageRankRounds(iters: Int, tele: String, from: String): String =
    (1 to iters).map { i =>
      s""", dang$i AS MATERIALIZED (
         |  SELECT coalesce(sum(r.rank), 0.0) AS m FROM r${i - 1} r
         |  WHERE NOT EXISTS (SELECT 1 FROM deg d WHERE d.node = r.node)
         |), r$i AS MATERIALIZED (
         |  SELECT n.node,
         |    (1.0 - 0.85) $tele
         |      + 0.85 * (coalesce(c.s, 0.0)
         |                + (SELECT m FROM dang$i) $tele) AS rank
         |  FROM $from LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / d.deg) AS s
         |    FROM r${i - 1} r
         |    JOIN deg d USING (node)
         |    JOIN edges e ON e.src = r.node
         |    GROUP BY e.dst) c USING (node)
         |)""".stripMargin
    }.mkString

  /** Unrolled min-label + pointer-doubling rounds for connected-
    * components oracles (q238, q242): expects CTEs `both_dir(src,
    * dst)` and `l0(node, lab)` in scope, emits `h1/l1 … h{iters}/
    * l{iters}` — the literal SQL twin of
    * [[graft.graph.GraphOps.connectedComponents]]'s loop body.
    */
  def ccRoundsSql(iters: Int): String =
    (1 to iters).map { i =>
      s""", h$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lab, coalesce(m.nb, l.lab)) AS lab
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT e.dst AS node, min(l2.lab) AS nb
         |    FROM l${i - 1} l2 JOIN both_dir e ON e.src = l2.node
         |    GROUP BY e.dst) m USING (node)
         |), l$i AS MATERIALIZED (
         |  SELECT x.node, least(x.lab, coalesce(y.ll, x.lab)) AS lab
         |  FROM h$i x LEFT JOIN (
         |    SELECT node AS lab, lab AS ll FROM h$i) y USING (lab)
         |)""".stripMargin
    }.mkString
}
