package graft

import graft.functions.{Similarity, TextFunctions => TF}
import graft.functions.Similarity.Quantizer
import org.apache.spark.sql.functions._

/** Text/dedup/similarity primitives — semantics the DuckDB oracle can't
  * gate (LSH recall, fingerprint invariance) plus spot goldens. */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog"),
    (2L, "dog lazy the over jumps fox brown quick The"), // word-shuffle of 1
    (3L, "An entirely different document about spark engines"),
    (4L, "The quick brown fox jumps over the lazy cat")    // near-dup of 1
  ).toDF("doc_id", "text")

  test("HalfUp: the JVM rounding equals the Column form, x.xxxx5 boundaries included") {
    // streaming state and UDF loops emit HalfUp.rd where the batch op
    // emits HalfUp.r4 — one value must come out of both on every double,
    // above all at the 4dp half boundaries (and 1e-9 either side of
    // them, where the nudge decides the side) and on negatives
    val halves = (-20000 to 20000).map(i => i * 1e-4 + 5e-5)
    val grid = (halves ++ halves.map(_ - 1e-9) ++ halves.map(_ - 2e-9) ++
      halves.map(_ + 1e-9) ++ (-2000 to 2000).map(_ * 1e-4) ++
      Seq(0.0, -0.0, 1e-9, -1e-9, 5e-10, 123456.78905, -123456.78905, 0.99995,
        1.0 / 3, -2.0 / 3, math.Pi, 1e6 + 5e-5))
    val got = grid.toDF("x").select(col("x"), graft.functions.HalfUp.r4(col("x")).as("r"))
      .as[(Double, Double)].collect()
    assert(got.length == grid.length)
    val bad = got.filter { case (x, r) => graft.functions.HalfUp.rd(x) != r }
    assert(bad.isEmpty, s"JVM and Column rounding disagree on ${bad.take(5).toSeq}")
    // the nudge breaks an exact half toward +inf on both signs
    assert(graft.functions.HalfUp.rd(0.00005) == 0.0001 &&
      graft.functions.HalfUp.rd(-0.00005) == 0.0 &&
      graft.functions.HalfUp.rd(0.12345, 6) == 0.12345)
  }

  test("fingerprint is word-order invariant, content sensitive") {
    val fp = docs.select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L), "shuffled dup shares the fingerprint")
    assert(fp(1L) != fp(3L) && fp(1L) != fp(4L))
  }

  test("doc_pack_efficiency: all-empty source group yields pad_frac 0.0, never NULL") {
    // the r15 advisor's degenerate-corpus case: a (source, len) group of
    // all-empty docs has sum(chunks)=0; Spark's non-ANSI divide would
    // yield NULL where DuckDB's double division throws/NaNs — the guard
    // must pin 0.0 on the REGISTRY query itself (run against a synthetic
    // documents dir so the real loader + query fn are what is tested)
    val dir = java.nio.file.Files.createTempDirectory("packdeg").toString
    Seq(
      (1L, "", "en", "srcEmpty", 0L),
      (2L, "", "en", "srcEmpty", 0L),
      (3L, "three words here now", "en", "srcReal", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Queries.registry.toMap.apply("doc_pack_efficiency").fn(spark, dir)
      .select("source", "len", "pad_frac", "n_chunks").collect()
    val empty = out.filter(_.getString(0) == "srcEmpty")
    assert(empty.length == 3, "all three candidate lengths present")
    empty.foreach { r =>
      assert(!r.isNullAt(2) && r.getDouble(2) == 0.0,
        s"empty group must read pad_frac 0.0, got $r")
      assert(r.getLong(3) == 0L, "ntok=0 docs chunk to 0")
    }
    val real = out.filter(r => r.getString(0) == "srcReal" && r.getLong(1) == 128L)
    assert(real.head.getDouble(2) > 0.0, "non-degenerate group still reports real padding")
  }

  test("ngramHashes UDF is bit-identical to the Column-form tokens/ngrams/hash60 chain") {
    // the primitive-loop UDF re-implements tokens() (lower + \W+ split +
    // filter) and hash60 (md5 60-bit prefix) in JVM code for the
    // spill-free doc_dup_spans path; this pins the two implementations
    // together DIRECTLY (the oracle pins them only through one query) on
    // adversarial inputs: unicode words+punctuation, punctuation runs,
    // fewer-than-n tokens, empty, null, repeated windows, mixed case
    val adversarial = Seq(
      (1L, "Héllo wörld — naïve café, крем& tokyo東京 mix"),
      (2L, "!!! ??? ... --- ***"),                        // punct runs only
      (3L, "one two"),                                    // < n tokens
      (4L, ""),                                           // empty
      (5L, null.asInstanceOf[String]),                    // null
      (6L, "a a a a a a"),                                // repeated windows
      (7L, "MiXeD CaSe WORDS lower UPPER MiXeD CaSe WORDS"),
      (8L, "tab\tnewline\nreturn\rspace  double"),
      (9L, "ends with punct!"), (10L, "!starts with punct")
    ).toDF("doc_id", "text")
    val n = 3
    val colForm = when(col("text").isNull, array().cast("array<bigint>"))
      .otherwise(transform(TF.ngrams(TF.tokens(col("text")), n), g => TF.hash60(g)))
    val rows = adversarial
      .select(col("doc_id"), TF.ngramHashes(col("text"), n).as("udf"),
        colForm.as("col"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    rows.foreach { case (id, u, c) =>
      assert(u == c, s"doc $id: UDF $u != Column form $c")
    }
    assert(rows.exists(_._2.nonEmpty), "equivalence must exercise real windows")
    assert(rows.exists(_._2.isEmpty), "and the empty/short paths")
  }

  test("dsirBuckets is bit-identical, order included, to pmod(hash60) over tokens then bigrams") {
    // the one-tokenization DSIR featurizer against the Column chain the
    // doc_dsir oracle mirrors: unigram buckets in token order, then
    // bigram buckets, each pmod(hash60(gram), B), on the whole corpus
    val B = QueriesPipeline.DsirBuckets
    val toks = TF.tokens(col("text"))
    def buckets(grams: org.apache.spark.sql.Column) =
      transform(grams, g => pmod(TF.hash60(g), lit(B)))
    val rows = Tables.documents(spark, "/root/testdata/sf0.001")
      .where(col("text").isNotNull)
      .select(col("doc_id"), TF.dsirBuckets(col("text"), B).as("udf"),
        concat(buckets(toks), buckets(TF.ngrams(toks, 2))).as("col"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    assert(rows.length == 500, "the whole sf0.001 corpus is compared")
    rows.foreach { case (id, u, c) =>
      assert(u == c, s"doc $id: dsirBuckets $u != Column form $c")
    }
  }

  test("dsirBuckets: null/zero-token text → no buckets and no doc_dsir row; one token → one bucket") {
    val B = QueriesPipeline.DsirBuckets
    assert(TF.dsirBucketsJvm(null, B).isEmpty && TF.dsirBucketsJvm("", B).isEmpty &&
      TF.dsirBucketsJvm("!!! ??? ... ---", B).isEmpty)
    val one = TF.dsirBucketsJvm("  Hello! ", B).toSeq
    assert(one == Seq(java.lang.Math.floorMod(TF.ngramHashesJvm("hello", 1).head, B)),
      s"one token is one unigram bucket and no bigram, got $one")
    val corpus = Seq(
      (1L, "tgt", "alpha beta gamma"),
      (2L, "raw", null.asInstanceOf[String]),
      (3L, "raw", "!!! ??? ..."),
      (4L, "raw", "Hello!"),
      (5L, "raw", "beta delta")
    ).toDF("doc_id", "source", "text")
    val got = QueriesPipeline.dsirForTest(corpus, Seq("tgt"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(got == Map(1L -> 5L, 4L -> 1L, 5L -> 3L),
      s"null and zero-token docs emit no row; n_feats = #buckets, got $got")
  }

  test("tokens / ngrams / jaccard") {
    val r = docs.where(col("doc_id") === 1)
      .select(
        TF.tokenCount(col("text")).as("n"),
        size(TF.ngrams(TF.tokens(col("text")), 3)).as("n3"))
      .as[(Int, Int)].head()
    assert(r == ((9, 7)))
    val j = docs.as("a").join(docs.as("b"),
      col("a.doc_id") === 1 && col("b.doc_id") === 4)
      .select(TF.jaccard(TF.distinctTokens(col("a.text")), TF.distinctTokens(col("b.text"))))
      .as[Double].head()
    assert(math.abs(j - 7.0 / 9.0) < 1e-12, "8 shared of {8+8} distinct... (7/9 exact)")
  }

  test("langGuess picks the best stopword score") {
    val got = Seq(
      (1L, "the cat and the dog went to the park in town"),
      (2L, "el perro y la casa de que la vida y el sol"),
      (3L, "xyzzy plugh qwerty"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TF.langGuess(col("text")).as("g"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en"); assert(got(2L) == "es"); assert(got(3L) == "und")
  }

  test("hash60 is stable and non-negative (portable md5 prefix)") {
    val h = Seq("hello").toDF("s").select(TF.hash60(concat(lit("1:"), col("s")))).as[Long].head()
    assert(h == 155683129569975224L, "matches ('0x'||substr(md5('1:hello'),1,15))::BIGINT in DuckDB")
  }

  test("simhash of near-identical docs differs in few bits") {
    // via the registered query on testdata at sf0.001
    val sh = Queries.registry.toMap.apply("doc_simhash")
      .fn(spark, "/root/testdata/sf0.001").as[(Long, Long)].collect().toMap
    val dup = Queries.registry.toMap.apply("doc_dedup_exact")
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(dup.nonEmpty, "testdata contains token-set dup groups")
    // dup-group members share the token set → identical simhash
    dup.foreach { r =>
      val n = r.getAs[Long]("n"); assert(n >= 2)
    }
  }

  test("LSH ANN results are a subset of brute-force candidates with sane ranks") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val ann = Similarity.annTopK(e.where(col("vec_id") < 10), e, 3, 4)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect()
    assert(ann.nonEmpty)
    val byQ = ann.groupBy(_._1)
    byQ.foreach { case (_, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq, "ranks consecutive from 1")
    }
    // buckets are non-degenerate: not every vector in one bucket
    val buckets = e.select(Similarity.lshBucket(Similarity.toDouble(col("embedding")), 4, 64).as("b"))
      .groupBy("b").count().collect()
    assert(buckets.length > 1, "hyperplanes split the space")
  }

  test("ANN recall@3 vs brute force clears the frozen gate (no_oracle -> still gated)") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val q = e.where(col("vec_id") < 50)
    val brute = Similarity.bruteTopK(q, e, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(q, e, 3, 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (ann & brute).size.toDouble / brute.size
    info(f"recall@3 = $recall%.3f over ${brute.size} truth pairs")
    assert(recall >= 0.55, f"recall@3 $recall%.3f fell below the frozen 0.55 gate " +
      "(8 tables x 4 planes on 500 vectors; measured 0.727 when frozen)")
  }

  test("IVF recall@3 vs brute force clears the frozen gate (nProbe/nCent coverage)") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val q = e.where(col("vec_id") < 50)
    val brute = Similarity.bruteTopK(q, e, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(q, e, 3, nCent = 16, nProbe = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    info(f"IVF recall@3 = $recall%.3f over ${brute.size} truth pairs")
    assert(recall >= 0.5, f"IVF recall@3 $recall%.3f fell below the frozen 0.5 gate " +
      "(16 sample centroids, 4 probes on 500 vectors; measured 0.627 when frozen, " +
      "0.540 after the round-10 sample salting — a different random-ish 16-subset, " +
      "same gate)")
  }

  test("PQ recall@3 vs exact L2 clears the frozen gate (ADC approximates L2)") {
    // PQ approximates EUCLIDEAN distance, so the honest truth set is the
    // exact-L2 top-k (cosine top-k would conflate metric mismatch with
    // quantization loss). 500 uniform-ish vectors are PQ's hardest case;
    // measured 0.56 with m=32, ksub=64 when frozen.
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val q = e.where(col("vec_id") < 50)
    val vecs = e.select(col("vec_id"), Similarity.toDouble(col("embedding")))
      .as[(Long, Seq[Double])].collect().toMap
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val truth = (for {
      qid <- vecs.keys.filter(_ < 50)
      top = vecs.keys.filter(_ != qid).toSeq
        .map(n => (n, BigDecimal(l2(vecs(qid), vecs(n)) + 1e-9)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)))
        .sortBy { case (n, dd) => (dd, n) }.take(3)
      (nid, _) <- top
    } yield (qid, nid)).toSet
    val pq = Similarity.pqTopK(q, e, 3, m = 32, ksub = 64, dimHint = 64)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (pq & truth).size.toDouble / truth.size
    info(f"PQ recall@3 = $recall%.3f over ${truth.size} truth pairs")
    assert(recall >= 0.45, f"PQ recall@3 $recall%.3f fell below the frozen 0.45 gate " +
      "(32 subspaces x 64 sample codewords on 500 vectors; measured 0.56 when frozen)")
  }

  test("pqTopK refuses an ADC broadcast table over the row cap") {
    // 500 queries x m=32 x ksub=4096 = 65.5M rows > the 10M cap — the
    // guard must fire at plan time, before any codebook collect
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ex = intercept[IllegalArgumentException] {
      Similarity.pqTopK(e, e, 3, m = 32, ksub = 4096, dimHint = 64)
    }
    assert(ex.getMessage.contains("broadcast"))
  }

  test("IVF-PQ recall@3 vs exact L2 clears the frozen gate (coverage x quantization)") {
    // end-to-end recall compounds the IVF probe coverage and the PQ
    // ranking quality — the price of the composed architecture's speed
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val q = e.where(col("vec_id") < 50)
    val vecs = e.select(col("vec_id"), Similarity.toDouble(col("embedding")))
      .as[(Long, Seq[Double])].collect().toMap
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val truth = (for {
      qid <- vecs.keys.filter(_ < 50)
      top = vecs.keys.filter(_ != qid).toSeq
        .map(n => (n, BigDecimal(l2(vecs(qid), vecs(n)) + 1e-9)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)))
        .sortBy { case (n, dd) => (dd, n) }.take(3)
      (nid, _) <- top
    } yield (qid, nid)).toSet
    val got = Similarity.ivfPqTopK(q, e, 3, nCent = 16, nProbe = 4,
        m = 32, ksub = 64, dimHint = 64)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"IVF-PQ recall@3 = $recall%.3f over ${truth.size} truth pairs")
    assert(recall >= 0.3, f"IVF-PQ recall@3 $recall%.3f fell below the frozen 0.3 gate " +
      "(16 cells x 4 probes, 32 subspaces x 64 codewords on 500 vectors; " +
      "measured 0.427 when frozen)")
  }

  test("cosine near-dup recall vs brute force clears the frozen gate (LSH is probabilistic)") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val found = Similarity.cosineDedupLsh(e, 0.4, 4, dimHint = 64)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val ev = e.select(col("vec_id").as("a"), Similarity.toDouble(col("embedding")).as("va"))
    val ev2 = e.select(col("vec_id").as("b"), Similarity.toDouble(col("embedding")).as("vb"))
    val brute = ev.join(ev2, col("a") < col("b"))
      .withColumn("c", round(Similarity.cosine(col("va"), col("vb")) + lit(1e-9), 4))
      .where(col("c") >= 0.4).select("a", "b").as[(Long, Long)].collect().toSet
    assert((found -- brute).isEmpty, "exact verification: every reported pair is a true pair")
    val recall = (found & brute).size.toDouble / brute.size
    info(f"pair recall = $recall%.3f over ${brute.size} truth pairs")
    assert(recall >= 0.55, f"pair recall $recall%.3f fell below the frozen 0.55 gate " +
      "(8 tables x 4 planes at tau=0.4 on 500 vectors; measured 0.758 when frozen)")
  }

  test("IVF cosine near-dup recall vs brute force clears the frozen gate (the O(n) scale flavor)") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val found = Similarity.cosineDedupIvf(e, 0.4, nProbe = 6, dimHint = 64)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val ev = e.select(col("vec_id").as("a"), Similarity.toDouble(col("embedding")).as("va"))
    val ev2 = e.select(col("vec_id").as("b"), Similarity.toDouble(col("embedding")).as("vb"))
    val brute = ev.join(ev2, col("a") < col("b"))
      .withColumn("c", round(Similarity.cosine(col("va"), col("vb")) + lit(1e-9), 4))
      .where(col("c") >= 0.4).select("a", "b").as[(Long, Long)].collect().toSet
    assert((found -- brute).isEmpty, "exact verification: every reported pair is a true pair")
    val recall = (found & brute).size.toDouble / brute.size
    info(f"IVF pair recall = $recall%.3f over ${brute.size} truth pairs")
    assert(recall >= 0.60, f"IVF pair recall $recall%.3f fell below the frozen 0.60 gate " +
      "(n/occupancy SALTED-sample centroids, 6 probes at tau=0.4 on 500 vectors; " +
      "the round-7 sqrt-n sample measured 0.818, the id-ordered one 0.803)")
  }

  test("IVF cosine dedup with the trained quantizer (the registry config) beats the sample") {
    // exactly the emb_dedup_cosine registry wiring: one Lloyd refinement
    // (iters=2) over the n/occupancy lowest-id init, then the
    // 6-probe dedup
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val n = e.count()
    val k = math.max(1, math.ceil(
      n.toDouble / Similarity.DedupCellOccupancy).toInt)
    val trained = Similarity.kmeansModel(e, nCent = k, iters = 2, dimHint = 64)
    val found = Similarity.cosineDedupIvf(e, 0.4, Quantizer.Flat(trained), nProbe = 6,
      dimHint = 64).select("a", "b").as[(Long, Long)].collect().toSet
    // every reported pair is still a true pair (verify is exact regardless
    // of the quantizer), and training must not LOSE recall vs the sample
    val ev = e.select(col("vec_id").as("a"), Similarity.toDouble(col("embedding")).as("va"))
    val ev2 = e.select(col("vec_id").as("b"), Similarity.toDouble(col("embedding")).as("vb"))
    val brute = ev.join(ev2, col("a") < col("b"))
      .withColumn("c", round(Similarity.cosine(col("va"), col("vb")) + lit(1e-9), 4))
      .where(col("c") >= 0.4).select("a", "b").as[(Long, Long)].collect().toSet
    assert((found -- brute).isEmpty, "exact verification holds under a trained quantizer")
    val recall = (found & brute).size.toDouble / brute.size
    info(f"trained-quantizer pair recall = $recall%.3f over ${brute.size} truth pairs")
    assert(recall >= 0.80, f"trained-quantizer pair recall $recall%.3f fell below the " +
      "frozen 0.80 gate (Lloyd-refined n/occupancy centroids, 6 probes at tau=0.4 " +
      "on 500 vectors)")
  }

  test("HLL sketch: approx_count_distinct within 5% of exact per source (M6 sketches)") {
    // sketches can't hash-match a cross-engine oracle (implementation-
    // specific registers) — the gate is relative error vs the exact count
    val d = "/root/testdata/sf0.01"
    val toks = Tables.documents(spark, d)
      .select(col("source"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
    val got = toks.groupBy("source")
      .agg(countDistinct("t").as("exact"), approx_count_distinct("t", 0.02).as("approx"))
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (src, exact, approx) =>
      val err = math.abs(approx - exact).toDouble / exact
      assert(err < 0.05, f"$src: approx=$approx exact=$exact err=$err%.3f")
    }
  }

  test("kmeans: the Lloyd update improves mean affinity over the sample init") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    def meanAff(iters: Int): Double = Similarity
      .kmeansAssign(e, nCent = 8, iters = iters, dimHint = 64)
      .agg(avg("aff")).head.getDouble(0)
    val init = meanAff(1)   // assignment against the raw sample centroids
    val trained = meanAff(2) // one Lloyd update between the passes
    info(f"mean affinity: sample init $init%.4f -> trained $trained%.4f")
    // cosine is scale-invariant in the centroid, so the per-dim mean IS
    // the spherical-kmeans update and mean affinity is monotone up to
    // 4dp rounding
    assert(trained >= init - 1e-4,
      f"Lloyd update worsened mean affinity: $init%.4f -> $trained%.4f")
    assert(trained > init + 0.01,
      f"Lloyd update should measurably beat 8 arbitrary sample centroids, " +
        f"got $init%.4f -> $trained%.4f")
  }

  test("IVF with the kmeans-trained quantizer: recall clears the sample-centroid gate") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val q = e.where(col("vec_id") < 50)
    val brute = Similarity.bruteTopK(q, e, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    def recallOf(model: Seq[(Long, Array[Double])]): Double = {
      val ivf = Similarity.ivfTopK(q, e, 3, Quantizer.Flat(model), nProbe = 4)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
      (ivf & brute).size.toDouble / brute.size
    }
    val trained = recallOf(Similarity.kmeansModel(e, nCent = 16, iters = 3, dimHint = 64))
    info(f"IVF recall@3 with trained quantizer = $trained%.3f")
    // the (pre-salting) sample-centroid path froze at 0.627 (its own gate
    // is 0.5; the round-10 salted sample measures 0.540) — the bar stays
    // at the historical 0.627 because training must beat BOTH sample
    // flavors, and 0.627 is the stronger of the two (trained = 0.687
    // with the id-ordered Lloyd init; 0.633 with the round-12 salted
    // init — the thinner margin is the price of removing the id-order
    // structural dependence, and the gate still holds)
    assert(trained >= 0.627,
      f"trained-quantizer recall $trained%.3f fell below the sample-centroid 0.627 bar")
  }

  test("kmeans: assignment is deterministic across runs and empty input is empty") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    def run() = Similarity.kmeansAssign(e, 8, 2, dimHint = 64)
      .as[(Long, Long, Double)].collect().toSet
    val first = run()
    assert(run() == first, "identical input must give identical assignments")
    assert(Similarity.kmeansAssign(e.where(col("vec_id") < 0), 8, 2).count() == 0)
  }

  test("streaming exact dedup parity: dropDuplicates on the fingerprint == batch keep-lowest") {
    // the incremental form of doc_dedup_exact: a stream of incoming docs
    // dedupes on the canonical fingerprint with streaming state — first
    // occurrence wins, which equals the batch keep-lowest-id convention
    // when arrival follows id order (the ingest contract)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq.sortBy(_._1)
    val batch = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "fp").as[(Long, String)].collect().toSet
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text")
      .withColumn("fp", TF.fingerprint(col("text"))).drop("text")
      .dropDuplicates("fp")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    rows.grouped(math.max(rows.size / 3, 1)).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("dedup_stream").select("doc_id", "fp")
      .as[(Long, String)].collect().toSet
    assert(streamed == batch,
      s"streaming dedup drift: ${(streamed -- batch).take(3)} vs ${(batch -- streamed).take(3)}")
  }

  test("annTopK: empty candidates -> empty result; dimHint skips inference (ADVICE r2)") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val empty = e.where(col("vec_id") < 0)
    assert(Similarity.annTopK(empty, empty, 3, 4).count() == 0,
      "no NoSuchElementException at plan construction")
    val hinted = Similarity.annTopK(e.where(col("vec_id") < 5), e, 3, 4, dimHint = 64)
    assert(hinted.count() > 0)
  }

  test("hierarchical IVF dedup recall clears the flat path's gate (the >8M-vector flavor)") {
    // exactly the emb_dedup_hier registry wiring: trained top level (8
    // centroids, 2 Lloyd passes), per-branch salted leaf sample at
    // occupancy 32, 4-branch greedy descent, 8 leaf probes (the 500-vector
    // gate corpus forces coarse fractions; at scale nTop ~ sqrt(k) makes
    // the same nProbeTop a vanishing fraction of branches)
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val hq = Similarity.hierQuantizer(e, nTop = 8, occupancy = 32, iters = 2,
      dimHint = 64)
    val found = Similarity.cosineDedupIvf(e, 0.4, Quantizer.Hier(hq, nProbeTop = 4),
      nProbe = 8, dimHint = 64)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val ev = e.select(col("vec_id").as("a"), Similarity.toDouble(col("embedding")).as("va"))
    val ev2 = e.select(col("vec_id").as("b"), Similarity.toDouble(col("embedding")).as("vb"))
    val brute = ev.join(ev2, col("a") < col("b"))
      .withColumn("c", round(Similarity.cosine(col("va"), col("vb")) + lit(1e-9), 4))
      .where(col("c") >= 0.4).select("a", "b").as[(Long, Long)].collect().toSet
    assert((found -- brute).isEmpty,
      "exact verification holds under the hierarchical quantizer")
    val recall = (found & brute).size.toDouble / brute.size
    info(f"hierarchical pair recall = $recall%.3f over ${brute.size} truth pairs")
    assert(recall >= 0.80, f"hierarchical pair recall $recall%.3f fell below the " +
      "frozen 0.80 gate (the trained flat path's gate; measured 0.848 when frozen, " +
      "0.924 after the round-12 salted Lloyd init)")
  }

  test("hierarchical IVF ANN recall@3 vs brute force clears the flat IVF gate") {
    // the emb_ann_hier registry wiring: same trained-top + salted-leaf
    // model as the hier dedup, 50-query recall vs exact cosine top-3
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val q = e.where(col("vec_id") < 50)
    val brute = Similarity.bruteTopK(q, e, 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val hq = Similarity.hierQuantizer(e, nTop = 8, occupancy = 32, iters = 2,
      dimHint = 64)
    val ann = Similarity.ivfTopK(q, e, 3, Quantizer.Hier(hq, nProbeTop = 4), nProbe = 8,
      dimHint = 64)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (ann & brute).size.toDouble / brute.size
    info(f"hier IVF recall@3 = $recall%.3f over ${brute.size} truth pairs")
    assert(recall >= 0.5, f"hier IVF recall@3 $recall%.3f fell below the 0.5 gate " +
      "the flat IVF path is held to")
  }

  test("hierQuantizer with nTop=1 reduces EXACTLY to the flat salted-sample dedup") {
    // one top-level branch makes the per-branch leaf sample the global
    // salted sample and the descent a plain flat probe — the two paths
    // must agree bit-for-bit (same rounding, same tie-breaks, same
    // verify), which pins the hier semantics to the oracle-proven flat
    // ones everywhere they overlap
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val n = e.count()
    val k = math.max(1, math.ceil(n.toDouble / 16).toInt)
    val hq = Similarity.hierQuantizer(e, nTop = 1, occupancy = 16, iters = 1,
      dimHint = 64)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hier = asSet(Similarity.cosineDedupIvf(e, 0.4, Quantizer.Hier(hq, nProbeTop = 1),
      nProbe = 4, dimHint = 64))
    val flat = asSet(Similarity.cosineDedupIvf(e, 0.4, nProbe = 4, nCent = k,
      dimHint = 64))
    assert(hier == flat,
      s"nTop=1 hier dedup diverged from flat: only-hier=${hier -- flat}, " +
        s"only-flat=${flat -- hier}")
    assert(hier.nonEmpty, "the reduction check must not pass vacuously")
  }

  test("semDedup: the paper's keep rule on a constructed two-cluster corpus") {
    // cell 0 holds a duplicate pair {1, 2}: aff(1)=1.0 > aff(2)≈0.9939, so
    // the paper's rule keeps the member FARTHEST from the cluster core (2)
    // and drops 1. vec 4 scores 0.0 against BOTH centroids — the rounded
    // tie must break to the LOWEST cid (cell 0) — and has no duplicate
    // there. vec 3 sits alone in cell 1.
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.9, 0.1, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (4L, Seq(0.0, 0.0, 1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val model = Seq(0L -> Array(1.0, 0.0, 0.0, 0.0), 1L -> Array(0.0, 1.0, 0.0, 0.0))
    val r = Similarity.semDedup(vecs, 0.6, Quantizer.Flat(model), dimHint = 4)
      .orderBy("vec_id").as[(Long, Long, Double, Boolean)].collect()
    assert(r.map(x => x._1 -> x._4).toMap ==
      Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
    assert(r.map(x => x._1 -> x._2).toMap ==
      Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("semDedup decisions equal an independent Column-API recomputation (registry config)") {
    // rebuild every keep/drop decision from the decision frame + raw
    // vectors using the HOF-lambda cosine — a different scoring code path
    // than the packed-dot the operator runs — and demand exact agreement
    val d = "/root/testdata/sf0.001"
    // NOTE: registry frames must not stay cached — suites share one
    // session, and a lingering InMemoryRelation would swallow the plan
    // shapes PlanAuditSpec gates (unpersist below)
    val out = Queries.registry.toMap.apply("emb_semdedup").fn(spark, d).cache()
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
    val j = out.join(e, "vec_id")
    val mine = j.select(col("cell"), col("vec_id").as("id"), col("aff"), col("v"))
    val others = j.select(col("cell"), col("vec_id").as("oid"),
      col("aff").as("oaff"), col("v").as("ov"))
    val outranked = mine.join(others, "cell").where(col("id") =!= col("oid"))
      .withColumn("cos", round(Similarity.cosine(col("v"), col("ov")) + lit(1e-9), 4))
      .where(col("cos") >= 0.4)
      .where(col("oaff") < col("aff") ||
        (col("oaff") === col("aff") && col("oid") < col("id")))
      .select("id").distinct()
    val dropped = out.where(!col("keep")).select(col("vec_id").as("id"))
    assert(dropped.count() > 0, "the gate corpus must exercise real drops")
    assert(out.count() === e.count(), "one decision row per input vector")
    assert(dropped.exceptAll(outranked).count() == 0 &&
      outranked.exceptAll(dropped).count() == 0,
      "keep/drop decisions must equal the independent recomputation")
    out.unpersist()
  }

  test("semDedupIncremental: corpus outranks arrivals, batch prunes itself, empty corpus = flat") {
    // unit-vector golden, frozen 2-centroid model: batch vector 10 is an
    // exact dup of kept corpus row 1 (dropped by the corpus leg), 11 is
    // orthogonal to everything (kept), 12/13 are identical twins far from
    // the corpus (12 outranks 13 by the (aff ASC, id ASC) rule)
    def unit(i: Int): Seq[Double] = Seq.tabulate(4)(j => if (j == i) 1.0 else 0.0)
    val model = Seq(1L -> unit(0).toArray, 2L -> unit(1).toArray)
    val existing = Seq((1L, 1L, unit(0)), (2L, 2L, unit(1)))
      .toDF("vec_id", "cell", "embedding")
    val batch = Seq((10L, unit(0)), (11L, unit(2)), (12L, unit(3)), (13L, unit(3)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedupIncremental(existing, batch, 0.4, Quantizer.Flat(model),
      dimHint = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(out(10L) == (1L, false), "exact corpus dup must be dropped by the corpus leg")
    assert(out(11L)._2, "orthogonal arrival is kept")
    assert(out(12L) == (1L, true) && out(13L) == (1L, false),
      "within-batch twins: lower id outranks at equal affinity")
    // empty corpus ⇒ bit-for-bit the flat semDedup decisions on the batch
    val none = Seq.empty[(Long, Long, Seq[Double])].toDF("vec_id", "cell", "embedding")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    assert(asSet(Similarity.semDedupIncremental(none, batch, 0.4, Quantizer.Flat(model),
      dimHint = 4)) == asSet(Similarity.semDedup(batch, 0.4, Quantizer.Flat(model), dimHint = 4)),
      "with no corpus the incremental op must reduce exactly to flat semDedup")
  }

  test("semDedupHier with nTop=1 reduces EXACTLY to flat semDedup on the leaf model") {
    // one top-level branch makes the leaf frame the global salted sample
    // and the descent a flat argmax over it — the two paths must agree
    // bit-for-bit (same rounding, tie-breaks, prune, keep rule), pinning
    // the hier semantics to the oracle-proven flat ones
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val hq = Similarity.hierQuantizer(e, nTop = 1, occupancy = 64, iters = 1,
      dimHint = 64)
    val model = hq.leaves.select("cid", "cw").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val hier = asSet(Similarity.semDedup(e, 0.4, Quantizer.Hier(hq), dimHint = 64))
    val flat = asSet(Similarity.semDedup(e, 0.4, Quantizer.Flat(model), dimHint = 64))
    assert(hier == flat,
      s"nTop=1 hier semdedup diverged: only-hier=${hier -- flat}, only-flat=${flat -- hier}")
    assert(hier.exists(!_._4), "the reduction check must exercise real drops")
  }

  test("round-12 decision ops are invariant under adversarial repartitioning") {
    // the scoreChildren/leaf-scoring loops claim to be functions of the
    // SET of children (collect_list arrival order is nondeterministic;
    // topByRounded ranks on a total order) and every decision claims to
    // be a pure function of the input — so a 7-way hash repartition of
    // the input must change NOTHING. An order-dependent bug (a first()
    // where a min belongs, an order-sensitive fold) fails here even
    // while the single-layout oracle run stays green.
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val e7 = e.repartition(7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // deep ANN at the registry config
    def deep(in: org.apache.spark.sql.DataFrame) = {
      val dq = Similarity.deepQuantizer(in, nTop = 4, occupancies = Seq(32, 8),
        iters = 2, dimHint = 64)
      Similarity.ivfTopK(in.where(col("vec_id") < 10), in, 3,
        Quantizer.Deep(dq, widths = Seq(4, 16, 24)), dimHint = 64)
    }
    assert(rows(deep(e)) == rows(deep(e7)), "ivfTopK through Quantizer.Deep must ignore physical layout")
    // incremental SemDeDup at the registry config
    def inc(in: org.apache.spark.sql.DataFrame) = {
      val old = in.where(col("vec_id") % 5 =!= 0)
      val batch = in.where(col("vec_id") % 5 === 0)
      val k = math.max(1, math.ceil(old.count() / 64.0).toInt)
      val m = Quantizer.Flat(Similarity.kmeansModel(old, k, iters = 2, dimHint = 64))
      val kept = Similarity.semDedup(old, 0.4, m, dimHint = 64)
        .where(col("keep")).select(col("vec_id"), col("cell"))
        .join(old.select(col("vec_id"), col("embedding")), "vec_id")
      Similarity.semDedupIncremental(kept, batch, 0.4, m, dimHint = 64)
    }
    assert(rows(inc(e)) == rows(inc(e7)), "semDedupIncremental must ignore physical layout")
  }

  test("heavyHittersMg: certificate passes on skewed keys and the sketch path is exact") {
    import graft.ops.Sketch
    // Zipf-ish: "a"x100, "b"x50, "c"x30, then 40 singletons — the shape
    // the sketch exists for. cap=8 gives threshold N/9 = 220/9 ≈ 24.4 <
    // the 3rd count (30), so top-3 must certify
    val keys = Seq.fill(100)("a") ++ Seq.fill(50)("b") ++ Seq.fill(30)("c") ++
      (0 until 40).map(i => s"s$i")
    val df = keys.toDF("k").repartition(5)
    val hh = Sketch.heavyHittersMg(df, "k", 3, 8)
    assert(hh.certified, s"skewed data must certify (n=${hh.nTotal}, cands=${hh.nCandidates})")
    assert(hh.nTotal == 220L)
    assert(hh.top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 100L), ("b", 50L), ("c", 30L)))
    // the exact plan agrees (the sketch changed the plan, not the rows)
    val exact = df.groupBy("k").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("k")).limit(3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hh.top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == exact)
  }

  test("heavyHittersMg: uniform keys fail the certificate and fall back to the exact plan") {
    import graft.ops.Sketch
    // 300 distinct singletons — the sketch's adversarial case. k-th
    // count (1) can never exceed 300/(cap+1), so the op must take the
    // fallback and still return the exact deterministic tie-broken top
    val df = (0 until 300).map(i => f"u$i%03d").toDF("k").repartition(7)
    val hh = Sketch.heavyHittersMg(df, "k", 5, 16)
    assert(!hh.certified, "uniform data must NOT certify")
    assert(hh.top.collect().map(_.getString(0)).toSeq ==
      Seq("u000", "u001", "u002", "u003", "u004"),
      "fallback keeps the exact count-desc, key-asc order")
  }

  test("heavyHittersMg: non-string keys count correctly and both paths return string keys") {
    import graft.ops.Sketch
    // a LongType key column: the up-front cast makes both the certified
    // and the fallback path return StringType, so consumers see one
    // schema regardless of which plan ran
    // N=105, threshold N/(8+1)=11.67 < the 2nd count (15) -> certifies
    val skewed = (Seq.fill(60)(7L) ++ Seq.fill(15)(8L) ++ (100L until 130L)).toDF("id")
    val hc = Sketch.heavyHittersMg(skewed.repartition(3), "id", 2, 8)
    assert(hc.certified)
    assert(hc.top.schema("id").dataType == org.apache.spark.sql.types.StringType)
    assert(hc.top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("7", 60L), ("8", 15L)))
    val uniform = (0L until 200L).toDF("id")
    val hf = Sketch.heavyHittersMg(uniform.repartition(3), "id", 2, 8)
    assert(!hf.certified)
    assert(hf.top.schema("id").dataType == org.apache.spark.sql.types.StringType)
    intercept[IllegalArgumentException](Sketch.heavyHittersMg(skewed, "id", 0, 8))
  }

  test("heavyHittersMg: certified result is invariant under adversarial repartitioning") {
    import graft.ops.Sketch
    val d = "/root/testdata/sf0.001"
    val toks = Tables.documents(spark, d)
      .select(explode(TF.tokens(col("text"))).as("tok"))
    def rows(df: org.apache.spark.sql.DataFrame) = {
      val hh = Sketch.heavyHittersMg(df, "tok", 20, 256)
      assert(hh.certified, "the registry corpus must certify at cap=256")
      hh.top.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    assert(rows(toks) == rows(toks.repartition(7)),
      "certified heavy hitters must ignore physical layout")
  }

  test("heavyHittersMg: the per-partition summary is actually cap-bounded") {
    import graft.ops.Sketch
    // The memory claim, pinned: 5000 distinct singletons in ONE
    // partition with cap=64 must surface ≤ 64 candidates — if the
    // Misra-Gries eviction never fires (the boxed-null unboxing trap:
    // a primitive-valued HashMap returns 0L for absent keys, making
    // the absent branch unreachable), this reads 5000 and fails.
    val df = (0 until 5000).map(i => f"k$i%04d").toDF("k").coalesce(1)
    val hh = Sketch.heavyHittersMg(df, "k", 5, 64)
    assert(hh.nCandidates <= 64,
      s"one partition at cap=64 must keep <= 64 candidates, saw ${hh.nCandidates}")
    assert(!hh.certified && hh.nTotal == 5000L)
    // heavy keys must still SURVIVE the real eviction: one key at 40%
    // of a 1-partition stream with cap=4 is always a candidate
    val skew = (Seq.fill(400)("hot") ++ (0 until 600).map(i => s"s$i"))
    val hs = Sketch.heavyHittersMg(skew.toDF("k").coalesce(1), "k", 1, 4)
    assert(hs.certified && hs.top.collect().head.getString(0) == "hot")
  }

  test("exactQuantiles: descent == canonical global sort on events, and is layout-invariant") {
    import graft.ops.Sketch
    val d = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$d/events.parquet").select(col("value"))
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    // tiny cap + buckets force at least one real descent round
    val q = Sketch.exactQuantiles(ev, "value", ps, buckets = 16, cap = 8)
    assert(q.certified, "events values must resolve through the bounded path")
    assert(q.rounds >= 1, "cap=8 on this SF must require at least one histogram round")
    val got = q.result.collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    // canonical: collect + sort (tiny SF), k = floor((n-1)p)+1
    val all = ev.filter(col("value").isNotNull).collect().map(_.getDouble(0)).sorted
    val want = ps.sorted.map(p => (p, all(math.floor((all.length - 1) * p).toInt)))
    assert(got == want, s"descent must equal the sorted order statistics\n$got\n$want")
    val q7 = Sketch.exactQuantiles(ev.repartition(7), "value", ps, buckets = 16, cap = 8)
    assert(q7.result.collect().toSeq == q.result.collect().toSeq,
      "exact quantiles must ignore physical layout")
  }

  test("exactQuantiles: massive ties resolve via the single-valued-bucket shortcut") {
    import graft.ops.Sketch
    // 10k copies of 3 values with cap FAR below any tie group: only the
    // bmin==bmax shortcut can resolve these, never the bounded collect
    val vals = Seq.fill(4000)(1.0) ++ Seq.fill(5000)(2.0) ++ Seq.fill(1000)(9.0)
    val df = vals.toDF("v").repartition(6)
    val q = Sketch.exactQuantiles(df, "v", Seq(0.1, 0.5, 0.95), buckets = 8, cap = 10)
    assert(q.certified, "all-ties data must certify through the shortcut")
    assert(q.result.collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq ==
      Seq((0.1, 1.0), (0.5, 2.0), (0.95, 9.0)))
  }

  test("exactQuantiles: maxRounds=0 forces the sort fallback and the answer is unchanged") {
    import graft.ops.Sketch
    val vals = (0 until 1000).map(i => (i * 37 % 1000).toDouble)
    val df = vals.toDF("v").repartition(5)
    val bounded = Sketch.exactQuantiles(df, "v", Seq(0.5, 0.9), buckets = 32, cap = 50)
    assert(bounded.certified)
    val fb = Sketch.exactQuantiles(df, "v", Seq(0.5, 0.9), buckets = 32, cap = 50,
      maxRounds = 0)
    assert(!fb.certified, "maxRounds=0 with pop>cap must take the fallback")
    assert(fb.result.collect().toSeq == bounded.result.collect().toSeq,
      "the fallback changes the plan, never the answer")
    // p=0 / p=1 endpoints and null handling
    val withNulls = vals.map(v => Option(v)) ++ Seq(None, None)
    val qn = Sketch.exactQuantiles(withNulls.toDF("v"), "v", Seq(0.0, 1.0),
      buckets = 16, cap = 2000)
    assert(qn.result.collect().map(_.getDouble(1)).toSeq == Seq(0.0, 999.0))
    intercept[IllegalArgumentException](
      Sketch.exactQuantiles(df, "v", Seq(1.5), buckets = 16, cap = 10))
    intercept[IllegalArgumentException](
      Sketch.exactQuantiles(df, "v", Nil, buckets = 16, cap = 10))
  }

  /** Canonical greedy-prefix reference for budgetSelect. */
  private def budgetRef(rows: Seq[(Double, Long, Long)], budget: Long): Set[Long] = {
    var rem = budget
    val kept = scala.collection.mutable.Set[Long]()
    var cut = false
    rows.sortBy { case (s, _, id) => (-s, id) }.foreach { case (_, w, id) =>
      if (!cut) { if (rem >= w) { rem -= w; kept += id } else cut = true }
    }
    kept.toSet
  }

  test("budgetSelect: descent cut == canonical windowed cumsum, and is layout-invariant") {
    import graft.ops.Sketch
    // deterministic pseudo-random scores with deliberate 2dp ties
    val rows = (0L until 800L).map { id =>
      (math.round((id * 131 % 97) / 97.0 * 100) / 100.0, (id * 17 % 30) + 1, id)
    }
    val df = rows.toDF("s", "w", "id").repartition(6)
    val sel = Sketch.budgetSelect(df, "s", "w", "id", budget = 4000L,
      buckets = 16, cap = 24)
    assert(sel.certified && sel.rounds >= 1, s"must descend: $sel")
    val kept = df.filter(sel.predicate(col("s"), col("id")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == budgetRef(rows, 4000L), "descent must equal the greedy prefix")
    val sel7 = Sketch.budgetSelect(df.repartition(11), "s", "w", "id",
      budget = 4000L, buckets = 16, cap = 24)
    assert((sel7.scoreCut, sel7.idCutExcl, sel7.keepAll) ==
      (sel.scoreCut, sel.idCutExcl, sel.keepAll),
      "the cut must ignore physical layout")
  }

  test("budgetSelect: a tied score group bigger than cap resolves by id descent") {
    import graft.ops.Sketch
    // 500 rows all at score 0.5 (one giant tie group), a few above, a
    // few below; the budget lands INSIDE the tie group, whose size far
    // exceeds cap — only the phase-2 id descent can resolve the cut
    val rows = (0L until 10L).map(id => (0.9, 5L, id)) ++
      (100L until 600L).map(id => (0.5, 3L, id)) ++
      (700L until 710L).map(id => (0.1, 2L, id))
    val df = rows.toDF("s", "w", "id").repartition(5)
    // budget: 10*5 above + 200 into the ties -> cut at the 67th tie row
    val sel = Sketch.budgetSelect(df, "s", "w", "id", budget = 250L,
      buckets = 8, cap = 16)
    assert(sel.certified, s"tie descent must stay bounded: $sel")
    assert(sel.scoreCut == 0.5)
    val kept = df.filter(sel.predicate(col("s"), col("id")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == budgetRef(rows, 250L))
    // 200/3 = 66 full tie rows fit -> ids 100..165 kept, cut at 166
    assert(sel.idCutExcl == 166L)
  }

  test("budgetSelect: keep-all, zero budget, zero-weight rows, and the forced fallback") {
    import graft.ops.Sketch
    val rows = (0L until 100L).map(id => ((id % 10).toDouble, id % 4, id))
    val df = rows.toDF("s", "w", "id").repartition(3)
    val total = rows.map(_._2).sum
    val all = Sketch.budgetSelect(df, "s", "w", "id", total, buckets = 8, cap = 8)
    assert(all.keepAll && all.certified && all.rounds == 0)
    assert(df.filter(all.predicate(col("s"), col("id"))).count() == 100L)
    // zero budget: only leading zero-weight rows fit (they cost nothing)
    val zb = Sketch.budgetSelect(df, "s", "w", "id", 0L, buckets = 8, cap = 8)
    val keptZ = df.filter(zb.predicate(col("s"), col("id")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptZ == budgetRef(rows, 0L))
    // forced fallback: maxRounds=0 with pop>cap must window only the
    // tracked range and return the identical cut
    val bounded = Sketch.budgetSelect(df, "s", "w", "id", 70L, buckets = 8, cap = 8)
    val fb = Sketch.budgetSelect(df, "s", "w", "id", 70L, buckets = 8, cap = 8,
      maxRounds = 0)
    assert(!fb.certified)
    assert((fb.scoreCut, fb.idCutExcl) == (bounded.scoreCut, bounded.idCutExcl),
      "the fallback changes the plan, never the cut")
    intercept[IllegalArgumentException](
      Sketch.budgetSelect(df, "s", "w", "id", -1L, buckets = 8, cap = 8))
  }

  test("curate chain: a contaminated doc never suppresses its clean fingerprint twin") {
    // The stage-order golden (decontam BEFORE dedup): doc 1 shares a
    // 4-gram with the eval split; doc 2 is its word-order twin (same
    // fingerprint, no shared 4-gram with eval). Dedup-first would let
    // the contaminated doc 1 win the fp group and then die in the
    // decontam stage — losing BOTH. The shipped order drops doc 1
    // first, so the clean twin survives.
    val stop = "the and of to in a is it on for"
    val pad = Seq.tabulate(20)(i => s"$stop word$i").mkString(" ")
    val contamGram = "alpha bravo charlie delta"
    val c = s"$contamGram $pad echo"           // shares the 4-gram with eval
    val t = c.split(" ").reverse.mkString(" ") // same token multiset, reversed order
    val ev = s"unrelated eval text $contamGram more eval things here"
    val g = Seq(
      (1L, c, "en", "src1"), (2L, t, "en", "src1"), (90L, ev, "en", "src19"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val st = QueriesPipeline.curateFrames(g)
    val contamIds = st.contam.collect().map(_.getLong(0)).toSet
    assert(contamIds == Set(1L), s"only the 4-gram-sharing doc is contaminated: $contamIds")
    val kept = st.kept2.collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L),
      s"the clean twin must survive the fp group its contaminated partner vacated: $kept")
    // and the reversed twin really is a distinct text with the same fp
    assert(c != t)
    spark.catalog.clearCache()
  }

  test("budgetSelect: a negative weight fails loudly instead of corrupting the cut") {
    import graft.ops.Sketch
    val rows = (0L until 50L).map(id => ((id % 5).toDouble, id % 7, id)) :+
      (2.0, -3L, 50L)
    val df = rows.toDF("s", "w", "id")
    val e = intercept[IllegalArgumentException](
      Sketch.budgetSelect(df, "s", "w", "id", 60L, buckets = 8, cap = 8))
    assert(e.getMessage.contains("negative weight"))
  }

  test("budgetSelect: all-equal scores engage the id descent, never the corpus fallback") {
    import graft.ops.Sketch
    // lo == hi from the start used to skip phase 1 without seeding the
    // tie group: the op fell through to the windowed-cumsum fallback
    // over the FULL corpus (certified=false). Now phase 2 runs.
    val rows = (0L until 500L).map(id => (0.7, 3L, id))
    val df = rows.toDF("s", "w", "id").repartition(5)
    val sel = Sketch.budgetSelect(df, "s", "w", "id", budget = 300L,
      buckets = 8, cap = 16)
    assert(sel.certified, s"all-equal scores must certify via id descent: $sel")
    assert(sel.rounds >= 1, "the id descent must actually run")
    val kept = df.filter(sel.predicate(col("s"), col("id")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == budgetRef(rows, 300L))
    assert(sel.idCutExcl == 100L) // 300/3 = 100 rows fit
  }

  test("budgetSelect: id descent stays exact past 2^53 (long bucketing, no double cast)") {
    import graft.ops.Sketch
    // a tie group whose ids live above 2^62: consecutive longs up there
    // are NOT representable as doubles (2^62 ulp = 512), so the old
    // double-cast bucketing could merge distinct ids at the boundary.
    val base = 1L << 62
    val rows = (0L until 400L).map(i => (0.5, 2L, base + i))
    val df = rows.toDF("s", "w", "id").repartition(4)
    val sel = Sketch.budgetSelect(df, "s", "w", "id", budget = 154L,
      buckets = 8, cap = 16)
    assert(sel.certified, s"huge-id tie descent must stay bounded: $sel")
    val kept = df.filter(sel.predicate(col("s"), col("id")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == budgetRef(rows, 154L))
    assert(sel.idCutExcl == base + 77L) // 154/2 = 77 rows fit exactly
    // negative ids: the descent's selectExpr interpolates ilo as a
    // literal — a negative one must parse as (id - -2000L), not bind to
    // the DIV
    val neg = (0L until 300L).map(i => (0.5, 2L, -2000L + i)).toDF("s", "w", "id")
      .repartition(3)
    val seln = Sketch.budgetSelect(neg, "s", "w", "id", budget = 120L,
      buckets = 8, cap = 16)
    assert(seln.certified && seln.idCutExcl == -1940L) // 120/2 = 60 rows fit
  }

  test("CapKAgg: any reduce/merge split keeps the K smallest pairs, buffer stays K-bounded") {
    import graft.functions.{CapIn, CapKAgg}
    val agg = new CapKAgg(4)
    // deliberate h collisions (mod 101) so the id tie-break is load-bearing
    val pairs = (0 until 200).map(i => CapIn(((i * 7919) % 101).toLong, i.toLong))
    val want = pairs.sortBy(p => (p.h, p.id)).take(4).map(_.id)
    // several partition shapes: every split must agree with the global sort
    for (chunk <- Seq(1, 7, 37, 200)) {
      val bufs = pairs.grouped(chunk).toSeq
        .map(g => g.foldLeft(agg.zero)((b, p) => agg.reduce(b, p)))
      bufs.foreach(b => assert(b.length <= 2 * 4,
        s"map-side buffer must hold <= K pairs, saw ${b.length / 2}"))
      val merged = bufs.reduce((a, b) => agg.merge(a, b))
      assert(agg.finish(merged) == want, s"chunk=$chunk")
      val mergedR = bufs.reverse.reduce((a, b) => agg.merge(a, b))
      assert(agg.finish(mergedR) == want, s"reverse merge order, chunk=$chunk")
    }
    intercept[IllegalArgumentException](new CapKAgg(0))
  }

  test("round-13 decision ops are invariant under adversarial repartitioning") {
    // same contract as the round-12 gate, for this round's ops: every
    // decision (clean text, dedup verdict, importance weight, BM25
    // score) claims to be a pure function of the input SET, so a 7-way
    // hash repartition must change NOTHING. Segment reassembly is the
    // sharpest case: collect_list arrival order is nondeterministic, and
    // only the array_sort on (gi, seg) makes the stitched text
    // layout-independent.
    val d = "/root/testdata/sf0.001"
    val g = Tables.documents(spark, d)
    val g7 = g.repartition(7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(QueriesPipeline.segmentDedup(g, 8)) ==
      rows(QueriesPipeline.segmentDedup(g7, 8)),
      "segment dedup must ignore physical layout")
    assert(rows(QueriesPipeline.bloomIncremental(spark, g, 0L, 0.03)) ==
      rows(QueriesPipeline.bloomIncremental(spark, g7, 0L, 0.03)),
      "bloom incremental dedup must ignore physical layout")
    assert(rows(QueriesPipeline.dsirForTest(g, Seq("src0", "src1", "src2", "src3"))) ==
      rows(QueriesPipeline.dsirForTest(g7, Seq("src0", "src1", "src2", "src3"))),
      "DSIR weights must ignore physical layout")
    assert(rows(QueriesPipeline.bm25Scores(g, Seq("spark", "stream", "join"))
        .select(col("doc_id"), round(col("sc") + lit(1e-9), 4).as("sc"))) ==
      rows(QueriesPipeline.bm25Scores(g7, Seq("spark", "stream", "join"))
        .select(col("doc_id"), round(col("sc") + lit(1e-9), 4).as("sc"))),
      "BM25 scores (the RRF sparse leg) must ignore physical layout")
    assert(rows(QueriesPipeline.qualityPctile(g)) ==
      rows(QueriesPipeline.qualityPctile(g7)),
      "quality percentiles must ignore physical layout")
  }

  test("hierQuantizer/deepQuantizer drop memberless top branches (no out-of-training row loss)") {
    // six identical vectors seed multiple identical Lloyd centroids;
    // tie-break sends every member to the lowest cid, leaving the others
    // MEMBERLESS — a memberless branch has no leaves, and the descent's
    // leaf join would silently drop any out-of-training arrival whose
    // argmax lands there (row loss, not recall loss). The builders must
    // drop such branches from the top model.
    def e1 = Seq.tabulate(4)(j => if (j == 0) 1.0 else 0.0)
    val dup = (1L to 6L).map(i => (i, e1)).toDF("vec_id", "embedding")
    val hq = Similarity.hierQuantizer(dup, nTop = 3, occupancy = 2, iters = 1, dimHint = 4)
    assert(hq.top.size == 1, s"memberless branches must be dropped: ${hq.top.map(_._1)}")
    val branches = hq.leaves.select("branch").distinct().collect().map(_.getLong(0)).toSet
    assert(hq.top.map(_._1).toSet == branches, "top set == leaf-bearing branch set")
    // an out-of-training arrival must still receive a decision row
    val batch = Seq((10L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val none = Seq.empty[(Long, Long, Seq[Double])].toDF("vec_id", "cell", "embedding")
    val dec = Similarity.semDedupIncremental(none, batch, 0.4, Quantizer.Hier(hq), dimHint = 4).collect()
    assert(dec.length == 1 && dec.head.getBoolean(3),
      "out-of-training arrival decided (kept — orthogonal to everything)")
    val dq = Similarity.deepQuantizer(dup, nTop = 3, occupancies = Seq(2), iters = 1, dimHint = 4)
    assert(dq.top.size == 1 && dq.top.map(_._1).toSet ==
      dq.levels.head.select("parent").distinct().collect().map(_.getLong(0)).toSet,
      "deepQuantizer applies the same discipline")
  }

  test("semDedupIncrementalHier with nTop=1 reduces EXACTLY to the flat op on the leaf model") {
    // the registry-config invariant: one top branch makes the leaf frame
    // the global salted sample, so the hier incremental decisions must
    // equal the oracle-gated flat op's bit-for-bit
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val old = e.where(col("vec_id") % 5 =!= 0)
    val batch = e.where(col("vec_id") % 5 === 0)
    val hq = Similarity.hierQuantizer(old, nTop = 1, occupancy = 64, iters = 1, dimHint = 64)
    val model = hq.leaves.select("cid", "cw").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    val kept = Similarity.semDedup(old, 0.4, Quantizer.Hier(hq), dimHint = 64)
      .where(col("keep")).select(col("vec_id"), col("cell"))
      .join(old.select(col("vec_id"), col("embedding")), "vec_id")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val hier = asSet(Similarity.semDedupIncremental(kept, batch, 0.4, Quantizer.Hier(hq),
      dimHint = 64))
    val flat = asSet(Similarity.semDedupIncremental(kept, batch, 0.4, Quantizer.Flat(model),
      dimHint = 64))
    assert(hier == flat,
      s"hier(nTop=1) != flat: only-hier=${hier -- flat}, only-flat=${flat -- hier}")
    assert(hier.exists(!_._4), "the reduction must exercise real drops")
  }

  test("semanticDecontaminateHier with nTop=1 reduces EXACTLY to the flat op on the leaf model") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val corpus = e.where(col("label") =!= 9)
    val ev = e.where(col("label") === 9)
    val hq = Similarity.hierQuantizer(corpus, nTop = 1, occupancy = 64, iters = 1, dimHint = 64)
    val model = hq.leaves.select("cid", "cw").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val hier = asSet(Similarity.semanticDecontaminate(corpus, ev, 0.4,
      Quantizer.Hier(hq, nProbeTop = 1), nProbe = 4, dimHint = 64))
    val flat = asSet(Similarity.semanticDecontaminate(corpus, ev, 0.4, Quantizer.Flat(model),
      nProbe = 4, dimHint = 64))
    assert(hier == flat,
      s"hier(nTop=1) != flat: only-hier=${hier -- flat}, only-flat=${flat -- hier}")
    assert(hier.exists(!_._4), "the reduction must exercise real contamination hits")
  }

  test("semanticDecontaminate: planted golden + graceful empty model") {
    def unit(i: Int): Seq[Double] = Seq.tabulate(4)(j => if (j == i) 1.0 else 0.0)
    val model = Seq(1L -> unit(0).toArray, 2L -> unit(1).toArray)
    val corpus = Seq((1L, unit(0)), (2L, unit(1)), (3L, unit(2)))
      .toDF("vec_id", "embedding")
    val ev = Seq((100L, unit(0))).toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontaminate(corpus, ev, 0.4, Quantizer.Flat(model),
      nProbe = 4, dimHint = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true),
      s"exact eval dup dropped, orthogonal corpus kept: $out")
    // empty model (empty training corpus) degrades to the empty frame
    assert(Similarity.semanticDecontaminate(corpus, ev, 0.4, Quantizer.Flat(Nil),
      dimHint = 4).count() == 0)
    assert(Similarity.semDedupIncremental(corpus.limit(0)
      .select(col("vec_id"), lit(0L).as("cell"), col("embedding")),
      corpus, 0.4, Quantizer.Flat(Nil), dimHint = 4).count() == 0)
  }

  test("incremental decontamination with batch = corpus reduces EXACTLY to the bootstrap op") {
    // semanticDecontaminateIncremental(corpus, evalProbeFrame(...)) must
    // equal semanticDecontaminate(corpus, evalSet, ...) bit-for-bit: the
    // incremental form IS the bootstrap op with the eval probes
    // precomputed — the shared decontamHits helper makes drift
    // impossible, this pins it. Same reduction for the hier pair.
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val corpus = e.where(col("label") =!= 9)
    val ev = e.where(col("label") === 9)
    val k = math.max(1, math.ceil(corpus.count() / 64.0).toInt)
    val model = Quantizer.Flat(Similarity.kmeansModel(corpus, k, iters = 2, dimHint = 64))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val boot = rows(Similarity.semanticDecontaminate(corpus, ev, 0.4, model,
      nProbe = 4, dimHint = 64))
    val probes = Similarity.evalProbeFrame(ev, model, nProbe = 4, dimHint = 64)
    val inc = rows(Similarity.semanticDecontaminateIncremental(corpus, probes,
      0.4, model, dimHint = 64))
    assert(inc == boot, s"flat reduction: only-inc=${inc -- boot}, only-boot=${boot -- inc}")
    assert(boot.exists(!_._4), "the reduction must exercise real drops")
    val hq = Similarity.hierQuantizer(corpus, nTop = 8, occupancy = 32,
      iters = 2, dimHint = 64)
    val bootH = rows(Similarity.semanticDecontaminate(corpus, ev, 0.4,
      Quantizer.Hier(hq, nProbeTop = 2), nProbe = 4, dimHint = 64))
    val probesH = Similarity.evalProbeFrame(ev, Quantizer.Hier(hq, nProbeTop = 2),
      nProbe = 4, dimHint = 64)
    val incH = rows(Similarity.semanticDecontaminateIncremental(corpus,
      probesH, 0.4, Quantizer.Hier(hq), dimHint = 64))
    assert(incH == bootH, s"hier reduction: only-inc=${incH -- bootH}, only-boot=${bootH -- incH}")
  }

  test("deepQuantizer with ONE level reduces EXACTLY to hierQuantizer / ivfTopKHier") {
    // the recursion's base case pins the deep semantics to the
    // oracle-proven two-level ones: same trained top, bit-identical
    // salted per-branch sample, and the ANN contract agrees row-for-row
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val hq = Similarity.hierQuantizer(e, nTop = 8, occupancy = 32, iters = 2, dimHint = 64)
    val dq = Similarity.deepQuantizer(e, nTop = 8, occupancies = Seq(32), iters = 2, dimHint = 64)
    assert(dq.top.map { case (c, w) => (c, w.toSeq) } ==
      hq.top.map { case (c, w) => (c, w.toSeq) }, "trained top models must be identical")
    def lvlSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).toSet
    assert(dq.levels.length == 1 &&
      lvlSet(dq.levels.head) == lvlSet(hq.leaves.toDF("parent", "cid", "cw")),
      "single deep level must be the hier leaf sample bit-for-bit")
    val q = e.where(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val deep = rows(Similarity.ivfTopK(q, e, 3, Quantizer.Deep(dq, widths = Seq(4, 8)),
      dimHint = 64))
    val hier = rows(Similarity.ivfTopK(q, e, 3, Quantizer.Hier(hq, nProbeTop = 4), nProbe = 8,
      dimHint = 64))
    assert(deep == hier, s"deep(1-level) != hier: only-deep=${deep -- hier}, only-hier=${hier -- deep}")
    assert(deep.nonEmpty, "the reduction check must exercise real neighbors")
  }

  test("quantizer unpersist() frees the level storage and kills later descents loudly") {
    // the model-lifecycle contract (round-12 verdict #2): deepQuantizer
    // eagerly persists its level frames — they ARE the distributed half
    // of the model — so a long-lived session training several quantizers
    // needs a release, and a released model must fail loudly rather than
    // silently recompute (or serve) a dead index
    import org.apache.spark.storage.StorageLevel
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val dq = Similarity.deepQuantizer(e, nTop = 4, occupancies = Seq(32, 8),
      iters = 1, dimHint = 64)
    assert(dq.levels.forall(_.storageLevel != StorageLevel.NONE),
      "levels are persisted at build — they are the model")
    dq.unpersist()
    assert(dq.levels.forall(_.storageLevel == StorageLevel.NONE),
      "unpersist() must free every level's storage blocks")
    assert(dq.released)
    val q = e.where(col("vec_id") < 10)
    val exD = intercept[IllegalArgumentException](
      Similarity.ivfTopK(q, e, 3, Quantizer.Deep(dq, widths = Seq(4, 16, 24)), dimHint = 64))
    assert(exD.getMessage.contains("after unpersist"), exD.getMessage)
    val hq = Similarity.hierQuantizer(e, nTop = 4, occupancy = 32,
      iters = 1, dimHint = 64)
    hq.unpersist()
    val exH = intercept[IllegalArgumentException](
      Similarity.ivfTopK(q, e, 3, Quantizer.Hier(hq, nProbeTop = 4), nProbe = 8, dimHint = 64))
    assert(exH.getMessage.contains("after unpersist"), exH.getMessage)
  }

  test("3-level deep descent: recall@3 vs brute force clears the frozen gate") {
    // the recursive quantizer's quality gate, same protocol as every ANN
    // entry: 10-query exact top-3 vs the 3-level descent's
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    // n=500, final occ 8 -> k=63 cells, cbrt ~ 4: a real 4-branch /
    // ~4-mids-per-branch / ~4-leaves-per-mid tree at the gate SF
    val dq = Similarity.deepQuantizer(e, nTop = 4, occupancies = Seq(32, 8),
      iters = 2, dimHint = 64)
    assert(dq.levels.length == 2, "three levels total: top + 2 distributed")
    val q = e.where(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteTopK(q, e, 3))
    val deep = pairs(Similarity.ivfTopK(q, e, 3,
      Quantizer.Deep(dq, widths = Seq(4, 16, 24)), dimHint = 64))
    val recall = (deep & brute).size.toDouble / brute.size
    info(f"3-level deep recall@3 = $recall%.3f over ${brute.size} truth pairs")
    // measured 0.6 when frozen (probe-everything widths measure 1.0 — the
    // loss is pure probe truncation, not plumbing; at this 500-vector
    // gate SF the 3-level tree is deliberately overkill — 63 cells under
    // 3 truncating levels — so recall sits below the 2-level hier's 0.700
    // while at real scale the same widths are a vanishing corpus
    // fraction; the op exists for the >10^10 regime, spec'd here for
    // semantics + a floor)
    assert(recall >= 0.5, f"3-level deep recall@3 $recall%.3f fell below the 0.5 gate " +
      "(the flat IVF and 2-level hier gates' bar; measured 0.6 when frozen)")
  }

  test("kNN classify: IVF and hier predictions track the brute-force vote (frozen gates)") {
    // the classify-op equivalent of the recall gates every ANN entry
    // carries: run the SAME 5-neighbor vote over exact brute-force
    // neighbors and demand the approximate flavors agree on most
    // queries. Gates frozen below first measurement (flat 0.78, hier
    // 0.60 at sf0.001; after the round-12 salted Lloyd init flat 0.78,
    // hier 0.64 — this synthetic corpus's within-label cosine
    // coherence is weak, so the vote is tie-heavy and agreement tracks
    // the underlying index recalls) — a quantizer regression
    // that scrambles neighborhoods fails here even while the oracle
    // hash stays green (the oracle replays the approximation, it does
    // not judge it).
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    def vote(nn: org.apache.spark.sql.DataFrame): Map[Long, Int] = {
      val lab = e.select(col("vec_id").as("nid"), col("label").as("nlabel"))
      val votes = nn.join(lab, "nid")
        .groupBy("qid", "nlabel")
        .agg(count(lit(1)).as("votes"), max(col("sim")).as("best"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
        .orderBy(col("votes").desc, col("best").desc, col("nlabel"))
      votes.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("qid"), col("nlabel"))
        .as[(Long, Int)].collect().toMap
    }
    val q = e.where(col("vec_id") % 10 === 0)
    val exact = vote(Similarity.bruteTopK(q, e, 5))
    def pred(name: String): Map[Long, Int] =
      Queries.registry.toMap.apply(name).fn(spark, d)
        .select(col("qid"), col("pred")).as[(Long, Int)].collect().toMap
    def agree(p: Map[Long, Int]): Double =
      exact.count { case (k, v) => p.get(k).contains(v) }.toDouble / exact.size
    val aFlat = agree(pred("emb_knn_classify"))
    val aHier = agree(pred("emb_knn_hier"))
    info(f"vote agreement vs brute force: flat $aFlat%.3f, hier $aHier%.3f over ${exact.size} queries")
    assert(aFlat >= 0.70, f"flat kNN vote agreement $aFlat%.3f fell below the 0.70 gate")
    assert(aHier >= 0.50, f"hier kNN vote agreement $aHier%.3f fell below the 0.50 gate")
  }

  test("doc_shard: two-phase global rank equals the single global window; shards full") {
    val d = "/root/testdata/sf0.001"
    val got = Queries.registry.toMap.apply("doc_shard").fn(spark, d).cache()
    val h = TF.hash60(concat(lit("shard:"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(pmod(col("h"), lit(64L)), col("h"), col("doc_id"))
    val direct = Tables.documents(spark, d).select(col("doc_id"), h.as("h"))
      .withColumn("grk", row_number().over(w).cast("long"))
      .select(col("doc_id"), ((col("grk") - 1) / 100).cast("long").as("shard"),
        ((col("grk") - 1) % 100).as("pos"))
    assert(got.exceptAll(direct).count() == 0 && direct.exceptAll(got).count() == 0,
      "bucketed two-phase rank must equal the one-window global rank exactly")
    val sizes = got.groupBy("shard").count().orderBy("shard")
      .as[(Long, Long)].collect()
    assert(sizes.dropRight(1).forall(_._2 == 100) && sizes.last._2 <= 100,
      s"every shard but the last holds exactly 100 docs: ${sizes.mkString(",")}")
    got.unpersist()
  }

  test("doc_dup_spans golden: shared 16-token run is flagged, unique text is not") {
    // docs 1 and 2 share their first 17 tokens → each has 2 duplicated
    // 16-token windows; doc 1 has 4 windows total (19 tokens), doc 2 has
    // 2 (17 tokens, both shared); doc 3 (18 tokens) shares nothing
    val shared = (1 to 17).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, shared + " x1 y1"),
      (2L, shared),
      (3L, (1 to 18).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = QueriesPipeline.dupSpansForTest(df).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 4L, 2L, 0.5), (2L, 2L, 2L, 1.0), (3L, 3L, 0L, 0.0)),
      s"got $got")
  }

  test("doc_shard: two-phase rank equals one global window on a pseudo-random id universe") {
    // the sf0.001 golden uses dense sequential ids; this gate feeds the
    // same LCG id stream idiom as the union-find gate — 3k sparse 48-bit
    // ids (hash-adversarial: arbitrary bucket skew, ties impossible) —
    // and demands exact equality with the naive one-window global rank
    var st = 98765L
    def nxt(): Long = { st = st * 6364136223846793005L + 1442695040888963407L; st >>> 16 }
    val ids = Seq.fill(3000)(nxt()).distinct
    val g = ids.toDF("doc_id")
    val got = QueriesPipeline.shardForTest(g)
    val h = TF.hash60(concat(lit("shard:"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(pmod(col("h"), lit(64L)), col("h"), col("doc_id"))
    val direct = g.select(col("doc_id"), h.as("h"))
      .withColumn("grk", row_number().over(w).cast("long"))
      .select(col("doc_id"), ((col("grk") - 1) / 100).cast("long").as("shard"),
        ((col("grk") - 1) % 100).as("pos"))
    assert(got.exceptAll(direct).count() == 0 && direct.exceptAll(got).count() == 0,
      "two-phase rank must equal the one-window rank on arbitrary id universes")
  }

  test("doc_dsir: planted target vocabulary ranks raw docs by target-likeness") {
    // target slice speaks {alpha..epsilon}; raw docs range from pure
    // target vocabulary (3) through mixed (4) to fully disjoint (5) —
    // the mean log importance ratio must order them exactly that way,
    // and the target docs themselves must outscore the disjoint doc
    // (their grams dominate p̂). Deterministic: no sampling anywhere.
    val corpus = Seq(
      (1L, "tgt", "alpha beta gamma delta alpha beta gamma delta"),
      (2L, "tgt", "beta gamma delta epsilon beta gamma delta epsilon"),
      (3L, "raw", "alpha beta gamma delta epsilon alpha beta gamma"),
      (4L, "raw", "alpha beta zeta eta theta iota kappa rho"),
      (5L, "raw", "zeta eta theta iota kappa mu nu xi")
    ).toDF("doc_id", "source", "text")
    val res = QueriesPipeline.dsirForTest(corpus, Seq("tgt"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(res.size == 5, "top-50 over 5 docs scores all of them")
    assert(res(3L) > res(4L) && res(4L) > res(5L),
      s"target-like > mixed > disjoint, got $res")
    assert(res(1L) > res(5L) && res(2L) > res(5L),
      "the target slice itself outscores disjoint raw text")
    // empty corpus: the result-schema empty frame, no NPE on the totals
    val empty = QueriesPipeline.dsirForTest(corpus.where(lit(false)), Seq("tgt"))
    assert(empty.columns.toSeq == Seq("doc_id", "n_feats", "logw") && empty.isEmpty)
    // frozen-model all-smoothing default (the streaming twin's
    // batch-impossible branch): an out-of-vocabulary arrival whose
    // buckets the fit never saw takes λ₀ for every feature
    import graft.streaming.{DocArrival, DsirStream}
    val (lam, lam0) = QueriesPipeline.dsirFit(corpus, Seq("tgt")).get
    val oov = "qqzzxx vvrrtt wwggpp"
    val oovBuckets = (TF.ngramHashesJvm(oov, 1) ++ TF.ngramHashesJvm(oov, 2))
      .map(h => java.lang.Math.floorMod(h, QueriesPipeline.DsirBuckets)).toSet
    assert((oovBuckets intersect lam.keySet).isEmpty,
      "fixture precondition: the OOV doc's buckets must miss the tiny fit")
    val scored = DsirStream.scores(
      Seq(DocArrival(9L, oov)).toDS(), lam, lam0).collect().toSeq
    assert(scored.size == 1 && scored.head.n_feats == 5L &&
      math.abs(scored.head.logw - lam0) < 1e-3,
      s"OOV doc must score the smoothing default λ₀=$lam0, got $scored")
  }

  test("doc_split: doc-keyed split is total, exact on bucket bounds, ~80/10/10") {
    val d = "/root/testdata/sf0.001"
    val got = Queries.registry.toMap.apply("doc_split").fn(spark, d).cache()
    assert(got.count() == 500)
    val m = got.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(m.keySet == Set("train", "val", "test") && m.values.sum == 500)
    assert(m("train") >= 350 && m("train") <= 450,
      s"hash-uniformity sanity on the 80% stratum: ${m("train")}/500")
    assert(got.where(
      (col("bucket") < 80 && col("split") =!= "train") ||
        (col("bucket") >= 80 && col("bucket") < 90 && col("split") =!= "val") ||
        (col("bucket") >= 90 && col("split") =!= "test")).count() == 0,
      "split must be a pure function of the bucket")
    got.unpersist()
  }

  test("doc_dedup_segments: duplicated segments drop from EVERY doc, order survives") {
    // segLen=3 golden: docs 1 and 2 share their middle segment exactly
    // (both contain "s t u" at a 3-boundary); doc 3 is disjoint; doc 4 is
    // a short doc (< one segment) that must survive whole. The shared
    // segment disappears from BOTH carriers (no keep-first), every other
    // segment re-stitches in original order, and the final ragged
    // segment keeps its short length.
    val df = Seq(
      (1L, "a b c s t u d e f g h"), // segs: [a b c][s t u][d e f][g h]
      (2L, "x y z s t u p q"),       // segs: [x y z][s t u][p q]
      (3L, "m n o r r r"),           // disjoint
      (4L, "k")                      // single short segment
    ).toDF("doc_id", "text")
    val got = QueriesPipeline.segmentDedup(df, 3).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 3L, "a b c d e f g h"),
      (2L, 3L, 2L, "x y z p q"),
      (3L, 2L, 2L, "m n o r r r"),
      (4L, 1L, 1L, "k")), s"got $got")
    // a segment duplicated WITHIN one doc only (1 distinct doc) survives
    val self = Seq((7L, "a a a a a a")).toDF("doc_id", "text")
    val kept = QueriesPipeline.segmentDedup(self, 3)
      .as[(Long, Long, Long, String)].head()
    assert(kept == ((7L, 2L, 2L, "a a a a a a")),
      s"within-doc repetition is not cross-doc duplication: $kept")
  }

  test("doc_dedup_bloom: a collision-saturated Bloom still returns the exact anti-join") {
    // the prefilter may pass ANY superset of the true matches — force the
    // worst case (2 expected items, fpp 0.5 ⇒ nearly everything collides)
    // and demand the rows equal both the generously-sized filter's and
    // the plain anti-join op's
    val d = "/root/testdata/sf0.001"
    val g = graft.Tables.documents(spark, d)
    val tiny = QueriesPipeline.bloomIncremental(spark, g, 2L, 0.5)
    val sized = QueriesPipeline.bloomIncremental(spark, g, 0L, 0.03)
    val plain = Queries.registry.toMap.apply("doc_dedup_incremental").fn(spark, d)
    val a = tiny.as[(Long, String)].collect().toSeq
    val b = sized.as[(Long, String)].collect().toSeq
    val c = plain.as[(Long, String)].collect().toSeq
    assert(a == c, "a saturated Bloom changed the answer — false negatives exist")
    assert(b == c, "the sized Bloom changed the answer")
    assert(c.nonEmpty, "vacuity guard: the sf0.001 batch must contain new fingerprints")
  }

  test("doc_quality_pctile: CDF-join percentiles equal the banned global-window plan") {
    // the registry plan derives percent_rank from a <=101-row broadcast
    // CDF; this golden runs the BANNED plan — percent_rank() over a
    // corpus-wide window — as the reference implementation on real data
    // (sf0.001 has score ties, asserted below, so the min-rank tie rule
    // is exercised) and demands bit-equal rounded output
    val d = "/root/testdata/sf0.001"
    val got = Queries.registry.toMap.apply("doc_quality_pctile").fn(spark, d)
      .as[(Long, Double, Double)].collect().toSeq
    val w = org.apache.spark.sql.expressions.Window.orderBy("score")
    val ref = graft.Tables.documents(spark, d).select(col("doc_id"),
        round(TF.qualityScore(col("text")) + lit(1e-9), 2).as("score"))
      .withColumn("pctile", round(lit(1e-9) + percent_rank().over(w), 4))
      .orderBy("doc_id")
      .as[(Long, Double, Double)].collect().toSeq
    assert(got == ref, "CDF percentiles must equal window percent_rank")
    val scores = got.map(_._2)
    assert(scores.distinct.size < scores.size, "fixture must contain score ties")
    assert(got.map(_._3).exists(p => p > 0.0 && p < 1.0), "vacuity guard")
  }
}
