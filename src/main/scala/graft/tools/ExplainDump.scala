package graft.tools

import graft.{LocalSession, SparkEntry}

/** Dump formatted physical plans for plan review (args: query names,
  * default = a representative set). The session is [[LocalSession]]'s,
  * so the plans are the ones Bench and Verify run at the same
  * `SPARK_GRAFT_CPUS`.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("ERROR")
    // SPARK_GRAFT_CONF="k=v;k2=v2" sets session confs before planning
    // (e.g. spark.sql.autoBroadcastJoinThreshold=-1 to see the plan
    // without broadcast joins)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q01_agg_pricing_summary", "q02_join_chain_customer_geo",
      "q03_topk_semijoin", "q06_dedup_keep_latest", "q27_minhash_lsh_pairs",
      "q29_knn_cosine")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      println(SparkEntry.queries(n)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
