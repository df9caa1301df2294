package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The bench harness must be honest: a query that throws is recorded in
  * the JSON line and fails the run — never silently timed as ~0 s (a
  * regression masquerading as a speedup); the line certifies its own
  * noise level via the fixed-cost ctl probe; and the full registry is
  * recorded to the run-record file regardless of the line's budget. */
class BenchSpec extends SparkSuite {

  private def lineFor(qs: Map[String, (SparkSession, String) => DataFrame])
      : (String, Map[String, String], Seq[Double]) = {
    val (results, errors, probes) = Bench.run(spark, "/root/testdata/sf0.001", qs)
    (Bench.formatLine(results, errors, probes, "/root/testdata/sf0.001"), errors, probes.ctl)
  }

  test("a deliberately-broken query fails the bench loudly, not as a ~0s time") {
    val qs = Map[String, (SparkSession, String) => DataFrame](
      "ok" -> ((s, _) => s.range(3).toDF()),
      "broken" -> ((s, _) => s.range(1).select(raise_error(lit("deliberate")))))
    val (line, errors, _) = lineFor(qs)
    assert(errors.keySet == Set("broken"), s"exactly the broken query recorded: $errors")
    assert(line.contains("\"errors\":{\"broken\":\""), s"error surfaces in the JSON line: $line")
    assert(line.contains("\"ok\":"), "healthy queries still timed")
  }

  test("the ctl noise probe brackets every pass and lands in the line") {
    val (line, _, ctl) = lineFor(Map("t" -> ((s, _) => s.range(3).toDF())))
    // start + end of each of the 2 default passes
    assert(ctl.length == 4, s"2 passes bracket to 4 ctl readings: $ctl")
    assert(ctl.forall(c => c > 0.05 && c < 120),
      s"ctl readings are a real ~1s fixed-cost measurement: $ctl")
    assert(line.matches(""".*"ctl":\[[0-9.,]+\],.*"""),
      s"ctl array emitted in the line: $line")
    assert(line.matches(""".*"ctlp":\[[0-9.,]+\],.*"""),
      s"parallel ctl array emitted in the line (round 17 — scalar ctl " +
        s"misses co-tenant parallel pressure): $line")
    assert(line.matches(""".*"ctld":\[[0-9.,-]+\],.*"""),
      s"disk probe array emitted in the line (round 17 — CPU probes " +
        s"miss device-read throttling; -1 = O_DIRECT unsupported): $line")
    assert(line.matches(""".*"ctlb":\[[0-9.,]+\],.*"""),
      s"continuous-tracer [p50, p90] emitted in the line (round 18 — the " +
        s"boundary probes under-sample time-varying co-tenant pressure; " +
        s"the whole-run chunk trace is the cross-run demonstrator): $line")
    assert(line.matches(""".*"qq":\d+,.*"""),
      s"steal-quiet kept-reading count emitted in the line (round 20 — " +
        s"the self-adjudication headline: qq == query count means every " +
        s"reported wall is a quiet reading): $line")
  }

  test("SlowWatch threshold: a malformed GRAFT_SLOWDUMP_MS falls back to 30 s") {
    val t = Bench.SlowWatch.thresholdOf _
    assert(t(None) == 30000L)
    assert(t(Some("5000")) == 5000L)
    assert(t(Some("30s")) == 30000L, "malformed value must not throw")
    assert(t(Some("")) == 30000L && t(Some("-1")) == 30000L,
      "empty and non-positive values fall back too (Timer rejects a negative delay)")
  }

  test("selectKept: fastest steal-quiet attempt wins; uncertified is never quiet; certified-stolen falls back to min wall") {
    import Bench.Reading
    // a stolen pass won the min wall — the kept reading must be the
    // FASTEST QUIET attempt, not the stolen min (r19 verdict #1: a >2×
    // reading must mean code, not tenancy)
    val stolenFast = Reading(1.0, Some(0.05), "q#0")
    val quietSlow = Reading(1.4, Some(0.002), "q#1")
    val quietSlower = Reading(1.6, Some(0.0), "q#r1")
    assert(Bench.selectKept(Seq(stolenFast, quietSlow, quietSlower)) == quietSlow,
      "fastest quiet attempt kept over a faster stolen one")
    // an attempt with NO steal certificate never counts as quiet...
    assert(Bench.selectKept(
      Seq(Reading(1.0, None, "a"), Reading(2.0, Some(0.001), "b"))).group == "b",
      "a certified-quiet attempt beats a faster uncertified one")
    // ...but with no quiet attempt anywhere, plain min wall is kept and
    // the caps entry certifies the shortfall
    assert(Bench.selectKept(
      Seq(Reading(1.0, None, "a"), Reading(2.0, Some(0.2), "b"))).group == "a",
      "no quiet attempt: min wall kept (shortfall certified by caps)")
    assert(Bench.selectKept(
      Seq(Reading(3.0, None, "a"), Reading(2.0, None, "b"))).group == "b",
      "all-uncertified (off-Linux): plain min wall — the r18 behavior")
  }

  test("the capacity tracer and steal accounting land in BENCH_LOCAL") {
    // the 800M-row sum runs ~4-8 s per pass: the tracer is DUTY-CYCLED
    // since round 19 (~1 chunk pair per ~1.6 s quiet), so the query must
    // span several pair cadences for both kinds to complete chunks
    // inside the run
    val qs = Map[String, (SparkSession, String) => DataFrame](
      "t" -> ((s, _) =>
        s.range(0, 800000000).selectExpr("sum(cast(id as double) * id) as s")))
    val (results, errors, probes) = Bench.run(spark, "/root/testdata/sf0.001", qs)
    assert(probes.ctlb.size == 4 && probes.ctlb.forall(v => v > 0 && v < 60),
      s"tracer [cpu_p50, cpu_p90, mem_p50, mem_p90] must be real chunk " +
        s"seconds: ${probes.ctlb}")
    assert(probes.ctlb(0) <= probes.ctlb(1) && probes.ctlb(2) <= probes.ctlb(3),
      s"p50 <= p90 per kind: ${probes.ctlb}")
    // hypervisor steal accounting (Linux container — /proc/stat exists
    // here): per-pass fractions in [0, 1), a per-query entry for the
    // 1-2 s query above (its window spans many jiffies)
    assert(probes.ctls.size == 2 && probes.ctls.forall(v => v >= 0 && v < 1),
      s"per-pass steal fractions: ${probes.ctls}")
    assert(probes.caps.get("t").exists(v => v >= 0 && v < 1),
      s"per-query steal fraction recorded: ${probes.caps}")
    // round 19: tracer mode + per-query shuffle bytes are first-class
    // record fields — no record may carry an unknown tracer tax, and the
    // byte tally (the box-proof volume surface) must attribute the sum
    // aggregate's partial-result exchange to the query that ran it
    assert(probes.trc == "duty", s"default tracer mode is duty-cycled: ${probes.trc}")
    assert(probes.shuf.get("t").exists(_ > 0),
      s"per-query shuffle-write bytes recorded (the sum's partial-agg " +
        s"exchange moves real bytes): ${probes.shuf}")
    val path = java.nio.file.Files.createTempFile("bench_cap", ".json")
    Bench.writeLocal(path.toString, results, errors, probes,
      "/root/testdata/sf0.001", passes = 2)
    val json = java.nio.file.Files.readString(path)
    assert(json.contains("\"ctlb\":[") && json.contains("\"ctls\":[") &&
      json.contains("\"caps\":{\"t\":"),
      s"tracer + steal accounting surface in the full-precision record: $json")
    assert(json.contains("\"trc\":\"duty\"") && json.contains("\"shuf\":{\"t\":"),
      s"tracer mode + shuffle bytes land in the record: $json")
    // round 20: retry attempts + per-pass byte asymmetry are first-class
    // record fields (empty maps render as {} — schema-stable)
    assert(json.contains("\"att\":{") && json.contains("\"shufx\":{"),
      s"retry-attempt and pass-asymmetry fields present: $json")
    val p2 = probes.copy(att = Map("t" -> 1), shufx = Map("t" -> Seq(100L, 240L)))
    Bench.writeLocal(path.toString, results, errors, p2,
      "/root/testdata/sf0.001", passes = 2)
    val json2 = java.nio.file.Files.readString(path)
    assert(json2.contains("\"att\":{\"t\":1}") &&
      json2.contains("\"shufx\":{\"t\":[100,240]}"),
      s"attempts + per-pass byte arrays render exactly: $json2")
    java.nio.file.Files.delete(path)
  }

  test("duty-cycled tracer: bounded self-load, and pause drains the in-flight chunk") {
    // r18 verdict #1 + advisor: the r18 tracer ran chunk-after-chunk at
    // 100% duty (one core consumed, ~3-6 GB/s of continuous bandwidth
    // draw) inside every timed region, and `paused = true` did not wait
    // for an in-flight 256 MiB mem chunk to finish streaming into the
    // boundary probe's window. Gate both fixes structurally.
    val tr = new Bench.CapacityTracer(duty = 0.05).start()
    Thread.sleep(2500)
    tr.pauseAndDrain()
    assert(tr.isParked, "pauseAndDrain must not return before the worker parks")
    val (cn0, mn0) = tr.chunks
    // at 5% duty a chunk pair (~0.08 s work) earns ~1.5 s of sleep: 2.5 s
    // yields a handful of chunks, never the 100%-duty ~30-50
    assert(cn0 + mn0 <= 10,
      s"5% duty must bound the sample rate (full duty would read 30+ " +
        s"chunks in 2.5 s): cpu=$cn0 mem=$mn0")
    assert(cn0 + mn0 >= 1, "the tracer must still sample (trend line > silence)")
    Thread.sleep(400)
    val (cn1, mn1) = tr.chunks
    assert(cn1 == cn0 && mn1 == mn0, "no chunk may run while parked")
    tr.resume()
    Thread.sleep(300)
    tr.pauseAndDrain()
    assert(tr.isParked, "resume + re-drain round-trips")
    tr.stopAndPercentiles()
  }

  test("pin provenance: PinSelect injects pinN; PinRecord renders count, rule, and tracer mode") {
    // r18 "what's wrong" #4: the r18 pin was min-of-8 where earlier pins
    // were min-of-2/3 and the record never said so — best-of-N bias must
    // be visible cross-round. The operative record now renders the
    // candidate-run count + selection rule (from PinSelect's injected
    // field) and which tracer instrument ran; pre-r19 records render
    // their absence honestly instead of fabricating.
    val base = """{"metric":"total","value":1.0,"unit":"sec","passes":2,""" +
      """"trc":"duty","ctl":[0.70],"ctlp":[0.90],"ctld":[0.30],""" +
      """"queries":{"a":1.0},"sf":"sf0.1"}"""
    val injected = PinSelect.inject(base, 5)
    assert(injected.contains("\"pinN\":5,\"passes\":2"), s"field injected: $injected")
    assert(PinSelect.inject(injected, 7).contains("\"pinN\":7,\"passes\":2") &&
      !PinSelect.inject(injected, 7).contains("\"pinN\":5"),
      "re-selection replaces the count (idempotent injection)")
    val block = PinRecord.renderFromJson(injected)
    assert(block.contains("min-total of 5 candidate fresh-JVM runs"),
      s"candidate count + selection rule rendered: $block")
    assert(block.contains("duty-cycled"), s"tracer mode rendered: $block")
    val pre = PinRecord.renderFromJson(base.replace("\"trc\":\"duty\",", ""))
    assert(pre.contains("candidate-run count") && pre.contains("not recorded"),
      s"pre-r19 records render absent provenance honestly: $pre")
    assert(PinRecord.renderFromJson(base.replace("\"duty\"", "\"full\""))
      .contains("FULL-DUTY"),
      "an r18-style full-duty record must announce its self-load")
  }

  test("the JSON line fits the driver's 2000-char stdout tail") {
    // the driver records only the last 2000 chars of the run's stdout
    // (minus sbt's ~75-char [success] trailer): full-precision doubles at
    // 75+ queries overflow that window and truncate the total away, so
    // values are 2-decimal and the empty errors map is omitted
    val (line, errors, _) = lineFor(Map("t" -> ((s, _) => s.range(3).toDF())))
    assert(errors.isEmpty)
    assert(!line.contains("errors"), "empty errors map omitted for budget")
    assert(line.matches(""".*"t":\d+(\.\d)?[,}].*"""),
      s"minimal-digit 1-decimal values: $line")
    assert(line.contains("\"sf\":\"sf0.001\""), s"sf reported by basename: $line")
    assert(!line.contains("passes"), "pass count lives in COVERAGE.md, not the line")
    // project the line length for the REAL registry: each entry is worst
    // case "name":999.9, (5 value chars). build.sbt's
    // showSuccess := false suppresses sbt's "[success] Total time"
    // trailer, so the JSON line is the LAST stdout line and owns the
    // 2000-char window minus slack for a possible "[info] " prefix and a
    // stray late log line
    val entry = """"t":\d+(\.\d)?[,}]""".r.findFirstIn(line)
    assert(entry.isDefined, s"entry for 't' present: $line")
    // keys.toSeq, NOT keys.map: Map.keys is a Set, and mapping names to
    // lengths on a Set DEDUPLICATES equal lengths — the round-4 version
    // of this gate was vacuous because of exactly that
    // worst plausible value width is 3 chars: <10 s prints "9.9", and
    // >=10 s prints as an integer (<1000 s — a 1000 s query would have
    // failed the round long before the line length mattered)
    val projected = line.length - entry.get.length +
      SparkEntry.benchQueries.keys.toSeq.map(n => n.length + 2 + 1 + 3 + 1).sum
    // Round 21: certificates compressed to gate-feeding scalars (r20
    // verdict #1 — the r20 line ran 1957/2000 with full per-pass arrays)
    // and main() prints the line as the process's FINAL output, so the
    // driver's 2000-char tail always contains the whole line. The
    // projection already charges every query its 3-char worst case; the
    // ~40-char slack below covers a 6-char real total (vs this test's
    // 4-char one) and a few >=100 s noise-inflated values.
    assert(projected < 1960,
      s"projected bench line at ${SparkEntry.benchQueries.size} queries = $projected chars; " +
        "must fit the driver's 2000-char visible tail — shorten names or precision")
    // the compressed line forms: ctl=[mean,max], ctlp=[max ratio],
    // ctld=[max], ctls=[max] — one/two entries regardless of pass count
    assert(""""ctl":\[[0-9.]+,[0-9.]+\]""".r.findFirstIn(line).isDefined,
      s"ctl line form is [mean,max]: $line")
    assert(""""ctlp":\[[0-9.]+\]""".r.findFirstIn(line).isDefined,
      s"ctlp line form is the single worst p/c ratio: $line")
  }

  test("BENCH_LOCAL.json records the full query set at 3-decimal precision") {
    // the driver's run passes no SPARK_GRAFT_ONLY, so the file set must be
    // the WHOLE registry — including the nonBenchQueries line exclusions
    assert(Bench.fileQueryNames(Set.empty) == SparkEntry.queries.keySet,
      "main must time and record every registry query")
    assert(Bench.fileQueryNames(Set("a")) == Set("a"), "ONLY restricts the file too")
    val qs = Map[String, (SparkSession, String) => DataFrame](
      "fast" -> ((s, _) => s.range(3).toDF()),
      "broken" -> ((s, _) => s.range(1).select(raise_error(lit("deliberate")))))
    val (results, errors, probes) = Bench.run(spark, "/root/testdata/sf0.001", qs)
    val path = java.nio.file.Files.createTempFile("bench_local", ".json")
    Bench.writeLocal(path.toString, results, errors, probes,
      "/root/testdata/sf0.001", passes = 2)
    val json = java.nio.file.Files.readString(path)
    for (k <- qs.keys)
      assert(json.contains("\"" + k + "\":"), s"file has every timed query: $json")
    assert(json.contains("\"passes\":2"), "methodology recorded in the file")
    assert(json.contains("\"ctl\":["), "noise probe recorded in the file")
    assert(json.contains("\"errors\":{\"broken\":"), "errors recorded in the file")
    java.nio.file.Files.delete(path)
  }

  test("the run record splits every query's kept attempt by layer") {
    // doc_token_budget's histogram descent runs jobs inside its builder
    val qs = SparkEntry.queries.filter { case (n, _) =>
      Set("q_anti_join", "evt_dataframe", "doc_token_budget")(n) }
    val (results, errors, probes) = Bench.run(spark, "/root/testdata/sf0.001", qs)
    assert(errors.isEmpty, s"every query runs: $errors")
    assert(probes.layers("doc_token_budget").buildJobs >= 1,
      s"the builder's own jobs land in queries.build_jobs: ${probes.layers}")
    assert(probes.layers.keySet == qs.keySet, s"a layer split per query: ${probes.layers}")
    probes.layers.foreach { case (n, l) =>
      assert(l.buildS >= 0 && l.buildS <= results(n), s"$n: build within the wall: $l")
      assert(l.jobs >= 1 && l.stages >= 1 && l.tasks >= l.stages,
        s"$n: its job group ran jobs, stages and tasks: $l")
      assert(l.buildJobs >= 0 && l.buildJobs < l.jobs,
        s"$n: build jobs are a share of the attempt's jobs (the write runs one): $l")
      assert(l.runS >= 0 && l.gcS >= 0, s"$n: $l")
    }
    assert(probes.layers.values.map(_.runS).sum > 0, "task run time is tallied")
    val path = java.nio.file.Files.createTempFile("bench_layers", ".json")
    Bench.writeLocal(path.toString, results, errors, probes,
      "/root/testdata/sf0.001", passes = 2)
    val layers = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(path)).get("layers")
    for (n <- qs.keys; f <- Seq("queries.build_s", "queries.build_jobs", "sched.jobs", "sched.stages",
        "sched.tasks", "exec.run_s", "jvm.gc_s"))
      assert(layers.path(n).has(f), s"record has $n $f: $layers")
    java.nio.file.Files.delete(path)
  }

  test("the bench line carries every heavy-family query (exclusions are cheap-stable only)") {
    // round-11 verdict: nonBenchQueries had grown "new-by-default" until
    // the driver record never timed the registry's most expensive work.
    // Pin the policy structurally: the families that dominate BENCH_LOCAL
    // (dedup/semdedup/ANN/kNN/PQ over embeddings, the doc dedup+clean
    // pipelines) may never be line-excluded — a regression there must be
    // visible in BENCH_r*, not only in the file record.
    val heavyPrefixes = Seq("emb_dedup", "emb_semdedup", "emb_ann", "emb_knn",
      "emb_pq", "emb_ivfpq", "emb_kmeans", "emb_decontam", "doc_dedup",
      "doc_decontaminate", "doc_corpus", "doc_minhash", "doc_lm")
    val excludedHeavy = SparkEntry.nonBenchQueries
      .filter(n => heavyPrefixes.exists(n.startsWith))
    assert(excludedHeavy.isEmpty,
      s"heavy-family queries excluded from the bench line: $excludedHeavy — " +
        "rotate a cheap-stable entry out instead (see SparkEntry.nonBenchQueries)")
  }

  test("BASELINE.md operative record is the PinRecord render of BENCH_LOCAL.json") {
    // round-14 verdict: the prose record (177.48 s) and the committed
    // JSON (156.20 s) drifted apart. The operative-record block is now
    // GENERATED (graft.PinRecord) — this gate re-renders it and fails on
    // any byte difference, so a new pin that forgets
    // `runMain graft.PinRecord` cannot land.
    //
    // Round-16 fix (r15 verdict item 2): the DRIVER overwrites the
    // working-tree BENCH_LOCAL.json with its own rerun after every
    // round's commit, which made this gate spuriously red on every
    // driver-touched tree. The operative record is valid if it renders
    // from EITHER the working-tree JSON (a fresh builder pin, PinRecord
    // already run, commit pending) OR the COMMITTED one
    // (`git show HEAD:BENCH_LOCAL.json` — the pin the block was rendered
    // from, surviving any post-commit driver overwrite).
    //
    // KNOWN ONE-RUN-LATE GAP (round-17 advisor, accepted as documented
    // behavior): a builder who records a new working-tree pin but
    // forgets PinRecord is in a state observably IDENTICAL to the
    // driver-overwrite one (working-tree JSON differs from HEAD's, the
    // block renders from HEAD's), so this gate passes PRE-commit and
    // the drift is caught on the first POST-commit run (the block then
    // renders from neither side). The two states cannot be told apart
    // from file contents; the fallback therefore WARNS loudly whenever
    // it fires so a builder about to commit sees the PinRecord nudge.
    import java.nio.file.{Files, Paths}
    val md = Files.readString(Paths.get("BASELINE.md"))
    val b = md.indexOf(PinRecord.Begin)
    val e = md.indexOf(PinRecord.End)
    assert(b >= 0 && e > b, "BASELINE.md lost the OPERATIVE-RECORD markers")
    assert(md.indexOf(PinRecord.Begin, b + 1) < 0, "exactly one record block")
    val actual = md.substring(b, e + PinRecord.End.length)
    val fromWorkingTree = PinRecord.renderFromJson(
      Files.readString(Paths.get("BENCH_LOCAL.json")))
    val fromHead: Option[String] =
      try {
        val p = new ProcessBuilder("git", "show", "HEAD:BENCH_LOCAL.json")
          .redirectErrorStream(false).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        if (p.waitFor() == 0 && out.nonEmpty) Some(PinRecord.renderFromJson(out))
        else None
      } catch { case _: Exception => None }
    if (actual != fromWorkingTree && fromHead.contains(actual))
      System.err.println(
        "[BenchSpec] WARNING: operative record renders from the COMMITTED " +
          "BENCH_LOCAL.json, not the working-tree one. Fine if the driver " +
          "just overwrote the file post-commit; if YOU recorded a new pin, " +
          "run `sbt \"runMain graft.PinRecord\"` BEFORE committing or the " +
          "next post-commit run goes red.")
    assert(actual == fromWorkingTree || fromHead.contains(actual),
      "BASELINE.md operative record matches neither the working-tree nor " +
        "the committed BENCH_LOCAL.json — run `sbt \"runMain graft.PinRecord\"` " +
        "after recording the new pin")
  }

  test("a default bench run writes its run record, never the pin") {
    // r15, r20 and r21: main's default output was BENCH_LOCAL.json, so
    // every plain run (the sf0.001 smoke run included) replaced the
    // PinSelect-chosen pin with one unselected run and the record gate
    // above went red. PinSelect is the pin's only writer.
    import java.nio.file.Paths
    assert(Paths.get(Bench.RunOut).toAbsolutePath.normalize !=
      Paths.get("BENCH_LOCAL.json").toAbsolutePath.normalize,
      s"Bench.RunOut (${Bench.RunOut}) must not be the pin file")
  }

  test("working-tree BENCH_LOCAL.json carries the full registry (no truncated ONLY-run pin)") {
    // round-16 incident: a SPARK_GRAFT_ONLY dev run overwrote the
    // working-tree pin with a 2-query file, and the committed-pin
    // fallback in the record gate (which exists for the driver's
    // post-commit FULL reruns) masked it long enough for a `git add -A`
    // to commit the truncation. The pin file must always cover the whole
    // registry: a restricted run is a dev artifact to restore, a missing
    // new query means the pin predates the registry change - both are
    // exactly the drift the pin discipline exists to surface.
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get("BENCH_LOCAL.json"))
    val missing = SparkEntry.queries.keySet.filterNot(q => json.contains("\"" + q + "\":"))
    assert(missing.isEmpty,
      s"BENCH_LOCAL.json lacks ${missing.size} registry queries (e.g. " +
        s"${missing.take(3).mkString(", ")}) - either a truncated " +
        "SPARK_GRAFT_ONLY artifact (restore: git checkout -- BENCH_LOCAL.json) " +
        "or a stale pin after a registry change (record a full run + PinRecord)")
  }

  test("a degraded-window pin renders its own DEGRADED banner; a quiet pin does not") {
    // round-18 (r17 verdict #2/#3): the r17 pin carried a ~1.5× box
    // premium documented only in prose commentary — while it stood as the
    // 2× gate's denominator, a real 1.5× code regression would have read
    // as "1.0× of pin". The banner is a pure function of the JSON's own
    // probe certificates, so a premium-carrying pin can never pose as a
    // quiet denominator; the render-match gate above makes it land in
    // BASELINE.md mechanically.
    def pinJson(ctl: String, ctlp: String, ctld: String) =
      s"""{"metric":"total","value":1.0,"unit":"sec","passes":2,""" +
        s""""ctl":$ctl,"ctlp":$ctlp,"ctld":$ctld,""" +
        s""""queries":{"a":1.0},"sf":"sf0.1"}"""
    val quiet = pinJson("[0.70,0.72,0.71,0.74]", "[0.90,0.95,0.92,0.96]", "[0.30,0.20,0.25]")
    assert(!PinRecord.renderFromJson(quiet).contains("DEGRADED"),
      "quiet certificates must not render the banner")
    assert(PinRecord.renderFromJson(
      pinJson("[0.70,0.95,0.71,0.74]", "[0.90,0.95,0.92,0.96]", "[0.30,0.20,0.25]"))
      .contains("DEGRADED-WINDOW PIN"), "scalar-CPU breach flags")
    assert(PinRecord.renderFromJson(
      pinJson("[0.70,0.72,0.71,0.74]", "[0.90,1.30,0.92,0.96]", "[0.30,0.20,0.25]"))
      .contains("DEGRADED-WINDOW PIN"), "ctlp/ctl ratio breach flags")
    assert(PinRecord.renderFromJson(
      pinJson("[0.70,0.72,0.71,0.74]", "[0.90,0.95,0.92,0.96]", "[0.30,2.50,0.25]"))
      .contains("DEGRADED-WINDOW PIN"),
      "a MID-RUN device throttle flags (per-pass ctld samples exist for this)")
    assert(!PinRecord.renderFromJson(
      pinJson("[0.70,0.72,0.71,0.74]", "[0.90,0.95,0.92,0.96]", "[-1,-1,-1]"))
      .contains("DEGRADED"),
      "-1 O_DIRECT sentinel is an absent certificate, not noise evidence")
    // hypervisor steal (round 18): >1% of a pass stolen flags even when
    // every in-JVM probe reads quiet — runs 5-7's exact failure mode
    val quietWithSteal = pinJson("[0.70,0.72,0.71,0.74]",
      "[0.90,0.95,0.92,0.96]", "[0.30,0.20,0.25]")
      .replace(""""queries"""", """"ctls":[0.002,0.047],"queries"""")
    assert(PinRecord.renderFromJson(quietWithSteal).contains("DEGRADED-WINDOW PIN"),
      "a stolen pass flags the pin regardless of flat in-JVM probes")
    val quietNoSteal = pinJson("[0.70,0.72,0.71,0.74]",
      "[0.90,0.95,0.92,0.96]", "[0.30,0.20,0.25]")
      .replace(""""queries"""", """"ctls":[0.002,0.005],"queries"""")
    assert(!PinRecord.renderFromJson(quietNoSteal).contains("DEGRADED"),
      "sub-1% steal with quiet probes stays unflagged")
    // mem-chunk p50 (round 19): a bandwidth co-tenant moves the 256 MiB
    // sweep where every CPU probe stays flat (r18 run-5 failure mode) —
    // >0.06 s flags; the quiet 0.029-0.035 band does not. A flagged run
    // also renders the bandwidth-normalized total (the relative in-suite
    // axis for cross-round comparison); quiet runs render no normalizer.
    def withCtlb(json: String, ctlb: String) =
      json.replace(""""queries"""", s""""ctlb":$ctlb,"queries"""")
    val quietBase = pinJson("[0.70,0.72,0.71,0.74]",
      "[0.90,0.95,0.92,0.96]", "[0.30,0.20,0.25]")
    val bandwidthHit = PinRecord.renderFromJson(
      withCtlb(quietBase, "[0.05,0.06,0.08,0.10]"))
    assert(bandwidthHit.contains("DEGRADED-WINDOW PIN"),
      "an elevated mem-chunk p50 flags the pin on flat CPU probes")
    assert(bandwidthHit.contains("bandwidth-normalized total"),
      s"a bandwidth-degraded record renders its normalized total: $bandwidthHit")
    assert(bandwidthHit.contains("0.375"), // 0.030/0.08
      s"normalizer factor = quiet/run mem p50: $bandwidthHit")
    val quietCtlb = PinRecord.renderFromJson(
      withCtlb(quietBase, "[0.05,0.06,0.03,0.04]"))
    assert(!quietCtlb.contains("DEGRADED") &&
      !quietCtlb.contains("bandwidth-normalized"),
      "a quiet mem band neither flags nor normalizes")
  }

  test("ctl-normalized total renders above the quiet band; quiet-share renders when caps present") {
    // round 20 (r19 verdict #4): the residual cross-pin premium on a
    // steal-quiet window is pure scalar-CPU grant (judge-recomputed
    // r16→r19 at 1.150×/1.133× = exactly 0.83/0.70), so a record whose
    // ctl mean breaches the quiet band renders the 0.70-class-equivalent
    // total as a labeled conditional figure — never a replacement.
    def pin(ctl: String, extra: String = "") =
      s"""{"metric":"total","value":1.0,"unit":"sec","passes":2,""" +
        s""""ctl":$ctl,"ctlp":[0.90,0.95,0.92,0.96],"ctld":[0.30,0.20,0.25],""" +
        s"""$extra"queries":{"a":1.0},"sf":"sf0.1"}"""
    val hot = PinRecord.renderFromJson(pin("[0.83,0.84,0.82,0.83]"))
    assert(hot.contains("ctl-normalized total"),
      s"above-band ctl mean renders the normalizer: $hot")
    assert(hot.contains("0.843"), // 0.70 / mean(0.83,0.84,0.82,0.83)=0.83
      s"factor = quiet-ctl ref / run mean: $hot")
    val quiet = PinRecord.renderFromJson(pin("[0.70,0.72,0.71,0.74]"))
    assert(!quiet.contains("ctl-normalized"),
      "an in-band ctl mean renders no ctl normalizer (raw total stands)")
    // kept-reading quiet share (r19 verdict #1): renders only when the
    // record carries per-query steal certificates, and counts ≤1% ones
    val withCaps = PinRecord.renderFromJson(pin("[0.70,0.72,0.71,0.74]",
      """"caps":{"a":0.002},"""))
    assert(withCaps.contains("kept readings steal-quiet") &&
      withCaps.contains("1/1"),
      s"quiet share rendered from the caps map: $withCaps")
    assert(!quiet.contains("kept readings steal-quiet"),
      "no caps map (pre-r19 record): no fabricated quiet share")
    val stolenCaps = PinRecord.renderFromJson(pin("[0.70,0.72,0.71,0.74]",
      """"caps":{"a":0.05},"""))
    assert(stolenCaps.contains("0/1"),
      s"a stolen kept reading counts against the share: $stolenCaps")
  }

  test("top-10 shuffle-byte budgets: ±20% of pinned volume (box-proof where walls are not)") {
    // r18 verdict #3: the volume analog of PlanAuditSpec's exchange-COUNT
    // budgets. A lost broadcast or a resurrected payload amplification
    // (the r17 aug_dtw class: ~256 B/pair series arrays through the sort
    // exchange instead of ~30 B edges) moves BYTES deterministically on
    // any box, quiet or stolen — so this gate catches what a wall gate
    // cannot when the box is degraded. Same query set as the
    // exchange-count budgets (the r17 pin's top-10). Budgets are measured
    // under THIS suite's config (local[4], 4 shuffle partitions,
    // sf0.001), min-of-2 agreeing runs, ±20% band — wide enough for
    // compression jitter, far too tight for any structural regression
    // (the aug_dtw class was 20×).
    // pinned round 19 from two byte-IDENTICAL measurement runs (shuffle
    // write volume at fixed data/partitioning is deterministic — the two
    // runs agreed to the byte, so the ±20% band is pure headroom for
    // future compression/codec drift)
    // Round-20 re-pins (four entries), each a DELIBERATE plan change:
    //  - aug_cluster 14918→32683 / aug_dtw 11780→28601: seriesOf's
    //    explicit key repartition (the window exchange it replaces is no
    //    longer AQE-coalescible, so the groupBy(sid) collect_list partial
    //    aggregation now emits per-map-partition partials — the local[4]
    //    partial-agg physics COVERAGE round-20 item 6 established). Buys
    //    the O(k²) DP stage its parallelism (1 task → cores); measured
    //    aug_dtw warm build+exec 2.33+4.71 → 1.91+1.83 s at local[32].
    //    Small (~2%) run-to-run compression jitter observed at this
    //    volume (32683/33413 across two runs) — inside the band.
    //  - doc_lm_ppl 197037→315917: same partial-agg fan-out under the
    //    round-20 spread fix (Tables.spread now actually spreads; the
    //    (h1,h2) cc aggregate emits per-partition partials). Buys the
    //    whole tokenize+md5 pipeline its parallelism; wall halved.
    //  - doc_dsir 588071→483725: the (qn,pn) totals ride the plan
    //    instead of an eager `.head` job. lr still shuffled TWICE: the
    //    totals side lacked the λ side's inferred isnotnull filter, so
    //    the two copies never canonicalized equal and AQE shared neither.
    // Re-pin (doc_dsir as one per-row kernel): doc_dsir 483725→227117.
    //    lr is ONE bucket-keyed aggregate folded into the broadcast λ
    //    row, and scoring is in place, so the scoring side's gram rows
    //    and the second lr copy no longer shuffle; what remains is the
    //    two scan-side doc_id spreads, lr's one exchange and the ≤B-row
    //    model gather.
    // Re-pin: doc_curate_e2e 259927→211749. Its plan had already moved
    //    to 0.815× of the old pin (measured 211749 at two commits and
    //    again here, byte-identical), 1.8% above the band floor; the pin
    //    describes the plan again.
    val budgets: Map[String, Long] = Map(
      "aug_cluster" -> 32683L,
      "aug_dtw" -> 28601L,
      "emb_dedup_hier" -> 1943011L,
      "emb_semdedup_inc_hier" -> 1917349L,
      "emb_semdedup_inc" -> 164669L,
      "doc_lm_ppl" -> 315917L,
      "doc_curate_e2e" -> 211749L,
      "doc_dsir" -> 227117L,
      "emb_decontam_hier" -> 1013835L,
      "doc_winnow" -> 109237L,
      // round 20 (r19 what's-wrong #1): the semdedup/decontam cell-
      // assignment family + the tiny q_ movers joined the gate — the
      // queries whose DRIVER-run byte record read 2.1–2.7× across pins.
      // Under this suite's fixed config their bytes are deterministic
      // (min-of-2 agreeing runs, same discipline as the r19 ten), so a
      // structural regression shows here even while the driver-side
      // per-pass record is being stabilized by the shufx field.
      "emb_semdedup" -> 174734L,
      "emb_semdedup_hier" -> 1338224L,
      "emb_dedup_cosine" -> 169169L,
      "emb_decontaminate" -> 170246L,
      "emb_decontam_inc" -> 160477L,
      "emb_decontam_inc_hier" -> 662276L,
      "q_anti_join" -> 953L,
      "q_semi_join" -> 1012L,
      "q_top3_parts_per_brand" -> 2797L,
      // round 21 (r20 verdict #8): the evt window family joins the gate
      // now that its exchanges carry the explicit spread count (verdict
      // #4) — same min-of-2 agreeing-runs pin discipline, this suite's
      // fixed config. The spread REPLACED each implicit exchange
      // one-for-one, so these volumes are the family's first byte pins.
      "evt_rolling5" -> 61580L,
      "evt_timewin_1h" -> 50738L,
      "evt_join3" -> 27704L,
      "evt_dataframe" -> 19118L,
      "evt_collapse_acc" -> 109430L,
      "evt_filter_gate" -> 11051L)
    val reg = Queries.registry.toMap
    val tally = new Bench.ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    // TWO executions per query (round 21, r20 verdict #8): pass 0 feeds
    // the ±20% budget band; pass equality below is the HARD cross-pass
    // gate the driver-side shufx field records — a fixed plan over fixed
    // data writes the same shuffle bytes every pass, so ANY disagreement
    // here (fixed config, no steal sensitivity) is a nondeterministic
    // plan (sampling, rand partitioning) leaking into a query path.
    (0 to 1).foreach { pass =>
      budgets.keys.toSeq.sorted.foreach { name =>
        Bench.isolate(spark)
        spark.sparkContext.setJobGroup(s"shufgate:$name#$pass", name, interruptOnCancel = false)
        reg(name).fn(spark, "/root/testdata/sf0.001")
          .write.format("noop").mode("overwrite").save()
        spark.sparkContext.clearJobGroup()
      }
    }
    tally.drain() // bounded quiescence poll (round 20 — the fixed sleep
    // could undercount the final query's bytes on a loaded box)
    spark.sparkContext.removeSparkListener(tally)
    val measured = budgets.keys.toSeq.sorted
      .map(n => n -> tally.bytes(s"shufgate:$n#0"))
    info(measured.map { case (n, b) => s"$n=$b" }.mkString(" "))
    measured.foreach { case (name, got) =>
      val b = budgets(name)
      assert(got >= (b * 0.8).toLong && got <= (b * 1.2).toLong,
        s"$name shuffle-write bytes drifted: budget $b, measured $got " +
          f"(${got.toDouble / b}%.2fx) — if the new volume is a DELIBERATE " +
          "plan improvement, re-pin the budget with a rationale; if not, " +
          "find the lost broadcast / payload amplification")
      // cross-pass agreement thresholds: measured same-config wobble is
      // 0.1–0.3% (evt/aug_cluster — task-completion order shifts row
      // order inside merged shuffle partitions, moving the compression
      // context) with one sporadic 5.7% instance (emb_decontam_hier,
      // 1/2 runs — a duplicated stage under a racy lazy materialization,
      // pass-0-only); the regression classes this gate exists for (lost
      // broadcast, payload amplification) are 2–20×. 10% AND 16 KiB
      // fails every structural regression and none of the jitter.
      val got1 = tally.bytes(s"shufgate:$name#1")
      val diff = math.abs(got - got1)
      assert(diff <= math.max(got, got1) * 0.10 || diff <= 16384,
        s"$name shuffle bytes differ across passes ($got vs $got1) — a " +
          "nondeterministic plan element is in the query path")
    }
  }

  test("nonBenchQueries name real registry queries and stay oracle-gated") {
    // the exclusion trims the bench LINE only — a name that drifted out of
    // the registry (or lost its oracle) would silently weaken the
    // line-budget story AND the correctness gate
    val ghost = SparkEntry.nonBenchQueries.diff(SparkEntry.queries.keySet)
    assert(ghost.isEmpty, s"nonBenchQueries not in the registry: $ghost")
    val ungated = SparkEntry.nonBenchQueries.diff(SparkEntry.oracleSql.keySet)
    assert(ungated.isEmpty,
      s"nonBenchQueries without a DuckDB oracle (exclusion must never hide " +
        s"an unverified query): $ungated")
  }
}
