package graft

/** Plan inspector: prints the formatted physical plan of named registry
  * queries (all of them with no args) — the per-round plan-audit loop
  * (`.explain` until it's the plan you'd WANT at 100 TB) without
  * writing a scratch main each time.
  *
  * Usage: runMain graft.Explain [sfDir] [name1,name2,...] [noaqe]
  *
  * `noaqe` prints the STATIC physical plan (adaptive disabled) — the
  * regime a pinned prepared re-execution runs, and the only dump in
  * which cross-subtree ReusedExchange is statically visible (an AQE
  * initial plan hides runtime stage reuse — the r20 mem1 evidence gap).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).filterNot(_ == "noaqe").headOption
      .map(_.split(",").map(_.trim).toSet)
    val noaqe = args.contains("noaqe")
    val spark = Engine.newSession("graft-explain", 8,
      extraConf = if (noaqe) Map("spark.sql.adaptive.enabled" -> "false") else Map.empty)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (n, fn) =>
        println(s"===== $n =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"[explain] failed: ${e.getMessage}") }
      }
  }
}
