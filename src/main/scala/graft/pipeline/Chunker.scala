package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Document chunking — the window split every RAG / pretraining
  * pipeline runs before embedding or tokenizing: fixed-size character
  * windows with overlap, emitted as (doc_id, chunk_idx, start, length,
  * content hash, token estimate) rows. The content hash stands in for
  * the chunk payload in the gate (and is what a dedup-on-chunks pass
  * keys on); a production sink selects the substring itself.
  *
  * Chunk count per doc is GREATEST(1, ceil((len - overlap) / stride))
  * with stride = size - overlap, so every document emits at least one
  * chunk and successive chunks share `overlap` characters.
  *
  * Scale shape: a pure per-row series explode on the scan — no
  * shuffle, no state; the (doc, chunk) stream parallelizes with the
  * input partitioning at any corpus size.
  */
object Chunker {

  val Size = 200
  val Overlap = 40
  val Stride: Int = Size - Overlap

  /** Whitespace-run token counting — the cheap budget estimate. */
  val WsTokenRe = "\\S+"

  /** Exact tokenizer-grain counting — the word/number/punctuation split
    * of [[TextAnalysis]]'s `re_token_ct` (every letter run, digit run,
    * and punctuation mark is one token, the grain a BPE-style tokenizer
    * refines), so a pack budget measured in these counts bounds what the
    * downstream tokenizer actually emits. */
  val ExactTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def sql(table: String, size: Int = Size, overlap: Int = Overlap,
          tokenRe: String = WsTokenRe)(d: Dialect): String = {
    val stride = size - overlap
    // ceil((len - overlap) / stride) in integer arithmetic
    val nChunks =
      s"GREATEST(1, ${d.intDiv(s"LENGTH(text) - $overlap + $stride - 1", s"$stride")})"
    val piece = s"SUBSTRING(text, (pos - 1) * $stride + 1, $size)"
    s"""WITH docs AS (
       |  SELECT doc_id AS id, text FROM $table
       |)
       |SELECT id AS doc_id,
       |  CAST(pos - 1 AS INT) AS chunk_idx,
       |  CAST((pos - 1) * $stride + 1 AS INT) AS chunk_start,
       |  CAST(LENGTH($piece) AS INT) AS chunk_len,
       |  MD5($piece) AS chunk_hash,
       |  CAST(${d.regexpCount(piece, tokenRe)} AS BIGINT) AS token_ct
       |FROM (${d.seriesRel("docs", Seq("id", "text"), nChunks)}) c
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** The chunk TEXT relation as a CTE body over a `docs(id, text)`
    * relation — `ctext(doc_id, text)` where doc_id is the synthetic
    * chunk id `doc_id * 100000 + chunk_idx` (the same composite
    * encoding [[dupSql]]'s keeper uses), and text is the chunk's
    * substring. Feeds the winnowing fingerprint chain for chunk-grain
    * near-dup ([[Dedup.fuzzyChunksSql]]). */
  def textCteSql(size: Int = Size, overlap: Int = Overlap)(d: Dialect): String = {
    val stride = size - overlap
    val nChunks =
      s"GREATEST(1, ${d.intDiv(s"LENGTH(text) - $overlap + $stride - 1", s"$stride")})"
    val piece = s"SUBSTRING(text, (pos - 1) * $stride + 1, $size)"
    s"""ctext AS (
       |  SELECT id * 100000 + (pos - 1) AS doc_id, $piece AS text
       |    FROM (${d.seriesRel("docs", Seq("id", "text"), nChunks)}) c
       |)""".stripMargin
  }

  /** Chunk-level language consistency — a multilingual-corpus health
    * check chunking makes necessary: a doc labeled one language can
    * carry embedded spans of another (quotes, code comments, boiler-
    * plate), and those spans end up as training sequences under the
    * wrong label. Guess each chunk's language with the same stopword
    * vote as the doc-level lang_guess, compare against the doc's label,
    * and roll up per label: chunk counts, agreeing chunks, unknown
    * (too-short-to-vote) chunks, and the mismatch rate among decidable
    * chunks. Single chunk stream, map-side-combinable rollup. */
  def langConsistencySql(table: String)(d: Dialect): String = {
    val guess = TextAnalysis.langGuessExpr("c.text")(d)
    s"""WITH docs AS (
       |  SELECT doc_id AS id, text FROM $table
       |),
       |${textCteSql()(d)},
       |guessed AS (
       |  SELECT ${d.intDiv("c.doc_id", "100000")} AS did, $guess AS g
       |    FROM ctext c
       |),
       |j AS (
       |  SELECT dd.lang, g.g FROM guessed g
       |  JOIN $table dd ON dd.doc_id = g.did
       |)
       |SELECT lang,
       |       CAST(COUNT(*) AS BIGINT) AS chunk_ct,
       |       CAST(SUM(CASE WHEN g = lang THEN 1 ELSE 0 END) AS BIGINT) AS match_ct,
       |       CAST(SUM(CASE WHEN g = 'unknown' THEN 1 ELSE 0 END) AS BIGINT) AS unknown_ct,
       |       CAST(ROUND(CAST(SUM(CASE WHEN g <> lang AND g <> 'unknown' THEN 1 ELSE 0 END) AS DOUBLE)
       |                  / NULLIF(SUM(CASE WHEN g <> 'unknown' THEN 1 ELSE 0 END), 0), 4)
       |            AS DOUBLE) AS mismatch_rate
       |  FROM j
       | GROUP BY lang
       | ORDER BY lang""".stripMargin
  }

  def runLangConsistency(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(langConsistencySql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckLangConsistencySql(): String = langConsistencySql("documents")(DuckDialect)

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)

  /** Chunk-level exact dedup — repeated chunk spans ACROSS documents
    * (dedup at the training-sequence grain, run between chunking and
    * packing): group on the chunk content hash, keep the minimum
    * (doc_id, chunk_idx) occurrence. Same map-side-combine groupBy
    * shape as doc-level exact dedup; the hash is the shuffle key, so
    * a span repeated in a million docs costs one reduce group. */
  def dupSql(table: String)(d: Dialect): String =
    s"""WITH chunks AS (
       |${sql(table)(d)}
       |)
       |SELECT chunk_hash, CAST(COUNT(*) AS BIGINT) AS dupe_ct,
       |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_ct,
       |       MIN(doc_id) AS keep_doc,
       |       CAST(MIN(doc_id * 100000 + chunk_idx) % 100000 AS INT) AS keep_idx
       |  FROM chunks
       | GROUP BY chunk_hash HAVING COUNT(*) > 1
       | ORDER BY chunk_hash""".stripMargin

  def runDup(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(dupSql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckDupSql(): String = dupSql("documents")(DuckDialect)

  /** Content-defined chunking — rolling-hash boundaries instead of
    * fixed windows: cut wherever the k-gram hash ending at a position
    * is ≡ 0 mod `divisor` (expected chunk length = divisor chars).
    * Because boundaries depend only on LOCAL content, an edit early in
    * a document shifts at most the chunk it lands in — every later
    * chunk re-aligns and its hash is unchanged — which is what makes
    * chunk-grain dedup survive insertions; fixed windows re-cut the
    * whole tail ([[sql]] vs this is exactly the rsync/LBFS trade).
    *
    * Same md5 gram hash as the winnowing chain, so both engines cut
    * identically. The SQL form explodes char positions (the oracle
    * rendering); the Spark path runs the same relational plan — per-doc
    * windows, docs are independent partitions — and the production
    * swap-in at 100 TB is a row-local native expression emitting the
    * cut array (the [[graft.functions.WinnowFpsExpr]] seam). */
  val CdcDivisor = 32
  val CdcGram = 8

  def cdcSql(table: String, divisor: Int = CdcDivisor,
             k: Int = CdcGram)(d: Dialect): String = {
    val gramHash = d.hexToLong(s"SUBSTRING(MD5(SUBSTRING(t, pos, $k)), 1, 15)")
    s"""WITH nd AS (
       |  SELECT doc_id AS id, text AS t FROM $table
       |),
       |grams AS (
       |  SELECT id, pos, $gramHash AS h
       |    FROM (${d.seriesRel("nd", Seq("id", "t"), s"LENGTH(t) - $k + 1")}) g
       |),
       |cuts AS (
       |  SELECT id, pos + $k - 1 AS cut FROM grams WHERE h % $divisor = 0
       |),
       |body AS (
       |  SELECT id, COALESCE(prev, 0) + 1 AS chunk_start,
       |         cut - COALESCE(prev, 0) AS chunk_len
       |    FROM (SELECT id, cut,
       |                 LAG(cut) OVER (PARTITION BY id ORDER BY cut) AS prev
       |            FROM cuts) w
       |),
       |tails AS (
       |  SELECT n.id, COALESCE(m.mx, 0) + 1 AS chunk_start,
       |         LENGTH(n.t) - COALESCE(m.mx, 0) AS chunk_len
       |    FROM nd n
       |    LEFT JOIN (SELECT id, MAX(cut) AS mx FROM cuts GROUP BY id) m
       |      ON m.id = n.id
       |   WHERE LENGTH(n.t) - COALESCE(m.mx, 0) > 0
       |),
       |allc AS (
       |  SELECT * FROM body UNION ALL SELECT * FROM tails
       |)
       |SELECT c.id AS doc_id,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY c.id
       |                               ORDER BY c.chunk_start) - 1 AS INT) AS chunk_idx,
       |       CAST(c.chunk_start AS INT) AS chunk_start,
       |       CAST(c.chunk_len AS INT) AS chunk_len,
       |       MD5(SUBSTRING(n.t, c.chunk_start, c.chunk_len)) AS chunk_hash
       |  FROM allc c JOIN nd n ON n.id = c.id
       | ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Engine path: the native [[graft.functions.CdcChunksExpr]] walks
    * the boundaries row-locally — no char-position explode, no
    * shuffle; only the chunk rows ever exist. Spans (and therefore
    * hashes) are bit-identical to [[cdcSql]], which stays the oracle
    * rendering (Round8OpsSpec asserts the identity). */
  private[graft] def cdcNativeSql(table: String): String =
    s"""SELECT doc_id,
       |       CAST(p.pos AS INT) AS chunk_idx,
       |       CAST(shiftright(p.v, 32) AS INT) AS chunk_start,
       |       CAST(p.v % 4294967296 AS INT) AS chunk_len,
       |       MD5(SUBSTRING(text, CAST(shiftright(p.v, 32) AS INT),
       |                     CAST(p.v % 4294967296 AS INT))) AS chunk_hash
       |  FROM $table
       | LATERAL VIEW posexplode(graft_cdc_chunks(text)) p AS pos, v
       | ORDER BY doc_id, chunk_idx""".stripMargin

  def runCdc(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CdcChunksExpr.register(spark)
    spark.sql(cdcNativeSql(graft.core.Tables.view(spark, dir, "documents")))
  }

  def duckCdcSql(): String = cdcSql("documents")(DuckDialect)
}
