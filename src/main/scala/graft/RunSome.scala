package graft

/** Dev tool: `runMain graft.RunSome <sfDir> <name> [<name> ...]` — run
  * the given registry queries IN ORDER in one warmed JVM, timing each.
  * Names may be unique prefixes ("q35" matches q35_lsh_dedup_candidates);
  * repeat a name to measure steady state. Exists to reproduce
  * cross-query interactions (shared caches, AQE stats) that single-query
  * Explain runs cannot show. */
object RunSome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.local()
    val w0 = System.nanoTime()
    Tables.all.foreach(t => Tables.df(spark, sfDir, t).count())
    println(f"[runsome] tables warm: ${(System.nanoTime() - w0) / 1e9}%.2f s")
    args.drop(1).foreach { prefix =>
      val name = SparkEntry.queries.keys.toSeq.sorted.find(_.startsWith(prefix))
        .getOrElse(sys.error(s"no query matches prefix $prefix"))
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      // GRAFT_RUNSOME_PLANS=1 dumps the executed plan per run — the
      // point of this tool is seeing how earlier queries change LATER
      // queries' plans (cache substitution, AQE stats)
      if (sys.env.get("GRAFT_RUNSOME_PLANS").contains("1"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"/tmp/graft_runsome_${name}_${System.nanoTime()}.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      df.write.format("noop").mode("overwrite").save()
      println(f"[runsome] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
