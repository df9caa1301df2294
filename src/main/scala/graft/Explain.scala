package graft

/** Plan-audit harness: `runMain graft.Explain <sfDir> <query...>` prints
  * each query's formatted physical plan — the per-round check that filters
  * reach the scans (PushedFilters), small sides broadcast, window chains
  * share one sort, and nothing degenerates to a cartesian product. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q03_shipping_priority")
    val spark = GraftSession(4, "ERROR")
    val reg = Queries.registry.toMap
    names.foreach { n =>
      println(s"\n========== $n ==========")
      reg(n).fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
