package graft

/** Dev-loop plan auditor: print the formatted physical plan and a timed
  * count for the named queries — the `.explain("formatted")` iteration
  * loop the build discipline requires, runnable per query without editing
  * source. Usage: runMain graft.Explain <sfDir> <query> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = EngineSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name =====")
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"$name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }
}
