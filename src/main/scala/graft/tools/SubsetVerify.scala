package graft.tools

import graft.SparkEntry

/** Local iteration twin of [[graft.Verify]]: dump only the NAMED
  * queries (args: sfDir outDir name1 name2 ...) plus a filtered
  * oracle_sql.json, so `selfcheck.py` can gate a work-in-progress
  * query without re-running the whole ~100-query surface.
  */
object SubsetVerify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    val spark = graft.LocalSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => names.contains(q._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(f"[subset] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    graft.Verify.writeOracleSql(outDir, names.contains)
    spark.stop()
  }
}
