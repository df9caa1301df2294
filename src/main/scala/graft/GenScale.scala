package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-test data generator: replicate an sf directory's documents +
  * embeddings `factor`× so the dedup/ANN family can be measured above
  * sf0.1 (the round-5/6 verdicts' open scale item). Replication is
  * structure-preserving WITHIN a replica and structure-breaking ACROSS
  * replicas — the point is that input size grows `factor`× while the
  * near-dup/neighbor density per document stays the one the sf generator
  * chose, so runtime scaling measures the ALGORITHM, not an artifact of
  * 10-way duplicate clusters the replication itself created:
  *
  *  - documents: replica r applies a vocabulary ISOMORPHISM — every token
  *    gets a `_qr` suffix, where the `_` delimiter is asserted absent
  *    from the source corpus (one scan, fails fast). `_` is the one
  *    delimiter that survives BOTH tokenizers in play: it is
  *    non-whitespace (the `\S+` replacer keeps it inside the token) and a
  *    word character (TextFunctions.tokens' `\W+` split keeps it inside
  *    the token too — a punctuation delimiter would be split off,
  *    silently un-suffixing every token downstream). Within a replica,
  *    every n-gram relation between two docs is exactly the original (the
  *    map is a bijection on tokens, hence on shingles); across replicas
  *    the token sets are GUARANTEED disjoint: a replica token contains
  *    exactly one `_` (source tokens have none), so `src1_qr1 == src2_qr2`
  *    forces src1==src2 and r1==r2. (The delimiter matters: a bare `qr`
  *    suffix collides when the source already contains a token like
  *    `xq1`; a naive insert-a-marker-token scheme fails even harder —
  *    2-gram shingles mostly survive insertions, cross-replica Jaccard
  *    stays ~0.6, and the verified-pair count grows quadratically,
  *    measuring the data artifact, not the algorithm.)
  *  - embeddings: replica r composes a circular rotation of the dims by
  *    r·7 (mod dim) with a sign flip of the coordinate subset given by
  *    the bits of splitmix64(r / period), period = dim/gcd(7,dim) (the
  *    rotation cycle length). Both are isometries, so within-replica
  *    cosines are EXACTLY the originals; the (shift, signs) pair is
  *    checked pairwise-distinct at build time, so no replica repeats
  *    another's transform (a pure-rotation scheme aliases at
  *    factor > period — e.g. r=0 vs r=64 at dim=64 — making every
  *    aliased pair an artifact ANN neighbor), and a vector stays as
  *    uncorrelated with its transform as two random vectors.
  *
  * Usage: runMain graft.GenScale <srcSfDir> <outDir> <factor>
  * (also copies region.parquet so Bench's warmup read works). */
object GenScale {

  /** Token-suffix delimiter: non-whitespace AND a word character (so it
    * survives both the `\S+` replacer and the `\W+` pipeline tokenizer),
    * lowercase-stable, and asserted absent from the source corpus. */
  val TokenDelim = "_"

  /** `fixedSources`: sources held at replica-0 size (NOT replicated) —
    * the production-shaped decontamination decade (r15 verdict item 3):
    * an eval suite is CONSTANT while the corpus grows, so replicating
    * src19 with the corpus made doc_eval_contam_report read super-linear
    * (cost = corpus scan × eval probe size — linear in each factor, but
    * the default decade scales both). Pass Set("src19") to measure the
    * production shape: eval fixed, corpus only scaling.
    *
    * `heapsVocab` (round 20, r19 verdict #6): the default replica
    * scheme gives every replica a FRESH vocabulary, so distinct tokens
    * (and distinct bigrams) grow LINEARLY with the corpus — the
    * vocab-adversarial regime, and the one in which the lm-ppl
    * (h1,h2)-model trade's "model side shuffles ~2× bytes" cost was
    * measured. Real corpora follow Heaps' law: vocab ≈ K·n^β with
    * β ≈ 0.5. With `heapsVocab = true`, replica r > 0 takes suffix
    * `_q{(r-1) mod m}` where m = round(√(factor-1)) — distinct suffix
    * GROUPS number 1 + min(factor-1, m), so vocabulary (and the
    * distinct-bigram model table) grows ~√factor while the corpus
    * grows factor×: the regime the 100 TB lm-ppl argument actually
    * targets. HONEST CAVEAT, loud by design: replicas sharing a suffix
    * group are TOKEN-IDENTICAL texts (same text, distinct doc_ids) —
    * exactly what the lm/token-count/quality families expect of a
    * duplicated web crawl, but an ARTIFACT duplicate cluster for the
    * dedup/minhash decade rows, which must keep the default
    * (vocabulary-isomorphic, all-distinct) mode. The cross-group
    * disjointness proof is the default mode's, unchanged (one `_` per
    * replica token, zero in source tokens). */
  def scaleDocuments(docs: DataFrame, factor: Int,
      fixedSources: Set[String] = Set.empty,
      heapsVocab: Boolean = false): DataFrame = {
    require(docs.where(col("text").contains(TokenDelim)).isEmpty,
      s"scaleDocuments: source corpus contains the '$TokenDelim' delimiter — " +
        "the cross-replica disjointness proof needs a character absent from the vocabulary")
    // a typo'd fixed-source name ("src_19") would silently no-op —
    // replicating the eval split anyway while the run is LABELED
    // production-shaped, exactly the super-linear artifact the flag
    // exists to remove. Fail loudly on names absent from the corpus.
    // (#sources-sized aggregate, one scan.)
    if (fixedSources.nonEmpty) {
      val present = docs.select("source").distinct().collect()
        .map(_.getString(0)).toSet
      val unknown = fixedSources -- present
      require(unknown.isEmpty,
        s"scaleDocuments: fixedSources ${unknown.toSeq.sorted.mkString(", ")} " +
          s"not in the corpus (sources present: ${present.toSeq.sorted.mkString(", ")}) — " +
          "a typo here silently replicates the eval split and mislabels the run")
    }
    val maxId = docs.agg(max("doc_id")).head.getLong(0) + 1
    // Heaps mode: m suffix groups for factor-1 suffixed replicas,
    // m = round(√(factor-1)) ⇒ vocab ~ √factor. Replica 0 stays the
    // identity in both modes (group "no suffix"), so a heaps suffix
    // can never collide with a source token.
    val heapsM = math.max(1, math.round(math.sqrt(math.max(0, factor - 1).toDouble)).toInt)
    (0 until factor).map { r =>
      if (r == 0) docs
      else {
        val q = if (heapsVocab) (r - 1) % heapsM else r
        (if (fixedSources.isEmpty) docs
         else docs.where(!col("source").isin(fixedSources.toSeq: _*))).select(
          (col("doc_id") + lit(r * maxId)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$$1${TokenDelim}q$q").as("text"),
          col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .select("doc_id", "text", "lang", "source", "n_chars")
      }
    }.reduce(_ unionByName _)
  }

  /** splitmix64 — a bijection on 64-bit ints (distinct q ⇒ distinct
    * mask); the standard finalizer from Steele et al., JDK SplittableRandom. */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** `fixedLabels`: label classes held at replica-0 size (NOT replicated)
    * — the embedding-side twin of [[scaleDocuments]]' `fixedSources` (r16
    * verdict item 6): the emb_decontam family's eval split is `label = 9`,
    * and replicating it with the corpus makes the decade read
    * corpus × eval (both factors scaling) instead of the production
    * shape (eval CONSTANT, corpus growing). Pass Set(9) for the
    * production-shaped decade. Unknown labels fail loudly (the
    * fixedSources typo discipline). */
  def scaleEmbeddings(embs: DataFrame, factor: Int,
      fixedLabels: Set[Int] = Set.empty): DataFrame = {
    if (fixedLabels.nonEmpty) {
      val present = embs.select("label").distinct().collect()
        .map(_.getInt(0)).toSet
      val unknown = fixedLabels -- present
      require(unknown.isEmpty,
        s"scaleEmbeddings: fixedLabels ${unknown.toSeq.sorted.mkString(", ")} " +
          s"not in the table (labels present: ${present.toSeq.sorted.mkString(", ")}) — " +
          "a typo here silently replicates the eval split and mislabels the run")
    }
    val maxId = embs.agg(max("vec_id")).head.getLong(0) + 1
    val dim = embs.select(coalesce(size(col("embedding")), lit(-1))).head.getInt(0)
    require(dim > 0, "scaleEmbeddings: first row's embedding is NULL or empty")
    val period = dim / BigInt(7).gcd(BigInt(dim)).toInt
    // per-replica isometry: shift + sign vector. q==0 keeps the first
    // rotation cycle flip-free (replica 0 stays the identity).
    val transforms: Seq[(Int, Array[Float])] = (0 until factor).map { r =>
      val shift = (r * 7) % dim
      val mask = if (r / period == 0) 0L else splitmix64((r / period).toLong)
      (shift, Array.tabulate(dim)(i =>
        if (((mask >>> (i % 64)) & 1L) == 1L) -1.0f else 1.0f))
    }
    require(transforms.map { case (s, g) => (s, g.toSeq) }.distinct.size == factor,
      s"scaleEmbeddings: transform collision at factor=$factor, dim=$dim — " +
        "two replicas would share an isometry, creating artifact cross-replica neighbors")
    transforms.zipWithIndex.map { case ((shift, signs), r) =>
      val rot: Column =
        if (shift == 0) col("embedding")
        else concat(slice(col("embedding"), shift + 1, dim - shift),
          slice(col("embedding"), 1, shift))
      val emb: Column =
        if (signs.forall(_ == 1.0f)) rot
        else zip_with(rot, typedlit(signs.toSeq), (x, s) => x * s)
      val src = if (r == 0 || fixedLabels.isEmpty) embs
        else embs.where(!col("label").isin(fixedLabels.toSeq: _*))
      src.select((col("vec_id") + lit(r * maxId)).as("vec_id"),
        emb.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
  }

  /** Events scaling for the keyed time-series family (aug_*): replica r
    * shifts user_id and event_id by r·(max+1) — each replica user carries
    * a series IDENTICAL to its source user's, so per-pair DTW work is
    * exactly the original while the series count k (and the k² pair
    * count) grows `factor`×: decade ratios measure the matrix mechanism
    * (wall / pair), not a data artifact. */
  def scaleEvents(ev: DataFrame, factor: Int): DataFrame = {
    // one driver action for both maxes; empty input fails with a clear
    // message instead of an opaque value-is-null NPE
    val maxes = ev.agg(max("user_id").as("mu"), max("event_id").as("me")).head
    require(!maxes.isNullAt(0) && !maxes.isNullAt(1),
      "scaleEvents: events table is empty — nothing to replicate")
    val maxU = maxes.getLong(0) + 1
    val maxE = maxes.getLong(1) + 1
    (0 until factor).map { r =>
      if (r == 0) ev
      else ev.withColumn("user_id", col("user_id") + lit(r * maxU))
        .withColumn("event_id", col("event_id") + lit(r * maxE))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = GraftSession(GraftSession.cores(16), "WARN")
    // 5th arg (optional): comma-separated sources held at replica-0 size
    // (production-shaped eval decade — see scaleDocuments' scaladoc).
    // Named form also accepted anywhere past arg 3 ("sources=src19",
    // "labels=9") — sbt's runMain collapses whitespace, so an empty
    // positional slot cannot be expressed to skip ahead to arg 6.
    val named = args.drop(3).filter(_.contains("="))
      .map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val fixedSources = named.get("sources")
      .orElse(if (args.length > 4 && args(4).nonEmpty && !args(4).contains("="))
        Some(args(4)) else None)
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    // 6th arg (optional): comma-separated label ids held at replica-0
    // size (production-shaped emb_decontam decade — scaleEmbeddings doc)
    val fixedLabels = named.get("labels")
      .orElse(if (args.length > 5 && args(5).nonEmpty && !args(5).contains("="))
        Some(args(5)) else None)
      .map(_.split(",").map(_.toInt).toSet).getOrElse(Set.empty[Int])
    // vocab=heaps → √factor vocabulary growth (lm-family decades ONLY —
    // see scaleDocuments' caveat); anything else but "replica" aborts
    // loudly (the fixedSources typo discipline)
    val heapsVocab = named.get("vocab") match {
      case Some("heaps")   => true
      case Some("replica") | None => false
      case Some(other) => sys.error(
        s"GenScale: vocab=$other — expected 'heaps' or 'replica'")
    }
    scaleDocuments(spark.read.parquet(s"$src/documents.parquet"), factor,
        fixedSources, heapsVocab)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    scaleEmbeddings(spark.read.parquet(s"$src/embeddings.parquet"), factor, fixedLabels)
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // events factor is CAPPED separately (4th arg, default 0 = skip):
    // the DTW matrix is O(k²) pairs by design, so a 300× user fold is
    // 90,000× the pair volume — decade rows for aug_* use small factors
    // named form parses with .toInt — a typo'd "events=8x" must abort
    // loudly (same fail-fast discipline as fixedSources/fixedLabels), not
    // silently skip event scaling; the POSITIONAL slot keeps toIntOption
    // because non-numeric args(3) legitimately means "a named/sources arg
    // occupies this slot", not a typo
    val eventsFactor = named.get("events").map(_.toInt)
      .orElse(if (args.length > 3) args(3).toIntOption else None).getOrElse(0)
    if (eventsFactor > 0)
      scaleEvents(spark.read.parquet(s"$src/events.parquet"), eventsFactor)
        .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
    spark.read.parquet(s"$src/region.parquet")
      .write.mode("overwrite").parquet(s"$out/region.parquet")
    println(s"[gen_scale] wrote ${factor}x documents+embeddings to $out")
    spark.stop()
  }
}
