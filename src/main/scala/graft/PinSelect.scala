package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}

/** Mechanical pin selection (round 19, r18 verdict "what's wrong" #4):
  * the r18 pin was min-of-8 where earlier pins were min-of-2/3, and the
  * record never said so — best-of-N bias grows with N, so cross-round
  * pin comparisons silently gained a downward drift. This tool makes the
  * selection auditable: given N candidate run-record files (each the
  * [[Bench.writeLocal]] output of a full fresh-JVM `graft.Bench` run,
  * written to SPARK_GRAFT_BENCH_OUT or [[Bench.RunOut]]), it picks the
  * min-total candidate, injects `"pinN": N` into the JSON, writes it to
  * BENCH_LOCAL.json, and regenerates BASELINE.md's operative record —
  * which now renders the candidate count and selection rule (see
  * [[PinRecord]]). BenchSpec gates that a post-r19 pin carries the
  * field. This is the only writer of BENCH_LOCAL.json (the pin): no
  * bench run writes it, so a run can never replace a selected pin.
  *
  * Usage: `sbt "runMain graft.PinSelect run1.json run2.json ..."`.
  * Selection rule: min of the files' `value` (total seconds) — the same
  * steady-state estimator the per-query min already applies, stated
  * once here rather than re-argued per round. */
object PinSelect {
  def inject(json: String, n: Int): String = {
    require(json.contains("\"passes\":"), "not a BENCH_LOCAL-format record")
    // idempotent: re-selecting over an already-pinned file replaces the count
    val stripped = json.replaceFirst(""""pinN":\d+,""", "")
    stripped.replaceFirst(""""passes":""", s""""pinN":$n,"passes":""")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PinSelect <candidate1.json> [candidate2.json ...]")
    val mapper = new ObjectMapper()
    val cands = args.toSeq.map { p =>
      val body = Files.readString(Paths.get(p))
      (p, body, mapper.readTree(body).get("value").asDouble())
    }
    val (path, body, total) = cands.minBy(_._3)
    cands.sortBy(_._3).foreach { case (p, _, t) =>
      println(f"[pin-select]  $t%8.2f s  $p")
    }
    Files.writeString(Paths.get("BENCH_LOCAL.json"), inject(body.trim, cands.size) + "\n")
    println(s"[pin-select] BENCH_LOCAL.json <- $path ($total s, min of ${cands.size})")
    PinRecord.main(Array.empty)
  }
}
