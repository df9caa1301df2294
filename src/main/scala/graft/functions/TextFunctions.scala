package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis / dedup primitives for large-scale training-data pipelines.
  * Pure Column expressions (whole-stage codegen) except [[ngramHashes]],
  * a measured primitive-loop exception: at 100 TB these run inside the
  * scan projection, shuffle only at the group/join steps, and every hash
  * is engine-portable (md5-based), so the same computation is
  * expressible in the DuckDB oracle. */
object TextFunctions {

  /** Lowercased word tokens, empty strings removed (no lambda: codegen'd). */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "\\W+"), "")

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** A 60-bit portable hash: first 15 hex digits of md5. Same value in
    * DuckDB via ('0x' || substr(md5(x),1,15))::BIGINT. Since round 20
    * this plans as the single native [[Md5Prefix60]] expression instead
    * of the 4-expression conv(substring(md5)) chain — bit-identical
    * values (HashSpec pins equality against the old chain and the JVM
    * loop), ~3× cheaper per value (guide §4). */
  def hash60(c: Column): Column =
    org.apache.spark.sql.GraftColumns.md5Prefix60(c)

  /** The pre-round-20 Column-chain form of [[hash60]] — kept ONLY as the
    * equality oracle for HashSpec (it is the exact shape the DuckDB
    * oracles compute); never used in a query path. */
  private[graft] def hash60Chain(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Canonical document fingerprint: md5 of the sorted distinct token set
    * (Broder-style canonical form; robust to word order/duplication). */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(distinctTokens(text))))

  /** All n-token window hashes of a doc in ONE primitive-loop UDF:
    * tokenize, build each window string, hash60 it — per doc, locally.
    * Bit-identical to `hash60(concat_ws(" ", window tokens))` (same
    * lower/\W+/filter tokenization, same md5-prefix hash, proven by the
    * doc_dup_spans oracle at every SF), WITHOUT the posexplode +
    * (n-1)-chained-lead window the Column form needs: 16 lead STRING
    * columns materialize ~500 B/row into the doc_id sort — ~30 GB at
    * 1.5M docs, past the executor sort pool ⇒ disk-spill cliff (measured
    * 25.8 s → 305 s on 3× data at the 100×→300× check). Here the window
    * strings exist only inside the loop; the output is ~41 longs per doc
    * and NOTHING wide ever enters a sort or shuffle — the same
    * map-parallel shape as doc_chunk. */
  def ngramHashes(text: Column, n: Int): Column = {
    val f = org.apache.spark.sql.functions.udf((t: String) => ngramHashesJvm(t, n))
    f(text)
  }

  /** The [[tokens]] chain as a plain JVM function (lower + `\W+` split +
    * drop empties) — shared with stream-side closures (BpeStream) and the
    * per-doc loops below, so the tokenizer cannot drift between the
    * batch Column form and streaming twins; pinned bit-identical to the
    * Column chain by PipelineSpec. */
  def tokensJvm(t: String): Array[String] =
    if (t == null) Array.empty[String]
    else t.toLowerCase(java.util.Locale.ROOT).split("\\W+").filter(_.nonEmpty)

  /** The [[ngramHashes]] loop as a plain JVM function. */
  def ngramHashesJvm(t: String, n: Int): Array[Long] = gramHashes(tokensJvm(t), n)

  /** hash60 of every n-token window of `toks`, each window joined by
    * single spaces in one reused buffer. */
  private def gramHashes(toks: Array[String], n: Int): Array[Long] =
    if (toks.length < n) Array.empty[Long]
    else {
      val sb = new java.lang.StringBuilder
      Array.tabulate(toks.length - n + 1) { i =>
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        // first 15 hex chars = bytes 0-6 + the high nibble of byte 7 —
        // the ONE kernel copy (HashOps), shared with the Md5Prefix60
        // expression the Column-side hash60 plans
        HashOps.md5Prefix60(sb.toString.getBytes("UTF-8"))
      }
    }

  /** A doc's hashed unigram+bigram feature buckets (the DSIR featurizer)
    * from ONE tokenization: every unigram's bucket in token order, then
    * every bigram's, each `floorMod(hash60(gram), buckets)`. Bit-identical,
    * order included, to `pmod(hash60(g), buckets)` over the Column
    * [[tokens]] then `ngrams(toks, 2)` (PipelineSpec pins it). Null or
    * zero-token text → empty; one token → one bucket. */
  def dsirBucketsJvm(t: String, buckets: Long): Array[Long] = {
    val toks = tokensJvm(t)
    (gramHashes(toks, 1) ++ gramHashes(toks, 2)).map(java.lang.Math.floorMod(_, buckets))
  }

  /** [[dsirBucketsJvm]] over a text Column: `array<bigint>`, never null. */
  def dsirBuckets(text: Column, buckets: Long): Column = {
    val f = org.apache.spark.sql.functions.udf((t: String) => dsirBucketsJvm(t, buckets))
    f(text)
  }

  /** Word n-gram shingles ("a b c" strings). Empty when fewer than n tokens. */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Jaccard similarity of two arrays (as sets). The repeated intersect is
    * eliminated by whole-stage-codegen subexpression elimination
    * (ArrayIntersect is codegen'd — never lands in the interpreted path). */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a); val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    val uni = (size(da) + size(db)).cast("double") - size(array_intersect(da, db))
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  // ── quality metrics ──────────────────────────────────────────────────────

  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def digitRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    when(size(t) > 0,
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t))
      .otherwise(lit(0.0))
  }

  val stopwordsEn = Seq("the", "and", "of", "to", "in", "a", "is", "it", "on", "for")

  def stopwordCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) > 0, stopwordCount(t, stopwordsEn).cast("double") / size(t))
      .otherwise(lit(0.0))
  }

  /** Composite quality score in [0,1]: favors mid-length docs with low
    * punct/digit noise and a natural stopword rate (heuristic weights). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punct = punctRatio(text)
    val digit = digitRatio(text)
    val stop = least(stopwordRatio(text) * 5.0, lit(1.0))
    greatest(least(
      lenScore * 0.4 + stop * 0.3 + (lit(1.0) - punct) * 0.2 + (lit(1.0) - digit) * 0.1,
      lit(1.0)), lit(0.0))
  }

  // ── language ID (n-gram/stopword heuristic) ─────────────────────────────

  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est"),
    "zh" -> Seq("de", "shi", "le", "zai", "you", "wo", "ta", "men"))

  /** Best-scoring language by stopword hits; ties resolve in the fixed
    * order above; no hits at all → "und" (undetermined). */
  def langGuess(text: Column): Column = {
    val t = tokens(text)
    val scores = langStopwords.map { case (l, ws) => l -> stopwordCount(t, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), rest) =>
      when(s === best && best > 0, lit(l)).otherwise(rest)
    }
  }
}
