package graft

import org.apache.spark.sql.SparkSession

/** Prints `explain("formatted")` for the headline queries so plan shape can
  * be audited (pushdown reaching the scan, exchange counts, codegen spans).
  * Usage: runMain graft.PlanAudit [sfDir] [queryName...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("pull_all_events", "pull_latest_events", "pit_join",
        "q1_pricing_summary", "q3_top_orders", "dedup_minhash")
    val spark = LocalSession("4", "4")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      if (name == "pit_partition_pruning") pitPartitionPruning(spark, sfDir)
      else if (name == "--summary") summary(spark, sfDir)
      else SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  /** One digest line per registered query: shuffle/broadcast exchange
    * counts, join operators, scan count + how many scans carry non-empty
    * pushed filters, and whole-stage-codegen span count — the facts the
    * PlanGateSpec budgets pin, in committed human-readable form.
    */
  private def summary(spark: SparkSession, sfDir: String): Unit = {
    // AQE wraps the physical plan in AdaptiveSparkPlanExec, whose toString
    // (pre-execution) carries no WholeStageCodegen `*(n)` markers — the
    // codegen column would read 0 for every query. Count on the static
    // plan; exchange/join/scan counts are identical pre-execution.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // finally-restore: the per-query try/catch covers plan builds, but a
    // throw from the unpersist loop or a println would otherwise leave
    // AQE disabled for the rest of the session
    try {
      val shuffleRe = "Exchange (hash|range|Single)".r
      val wscRe = """\*\((\d+)\)""".r
      println("| query | shuffles | bcast | BHJ | SMJ | SHJ | BNLJ | cart | scans | pushed | codegen |")
      println("|---|---|---|---|---|---|---|---|---|---|---|")
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          def c(s: String) = s.r.findAllIn(plan).size
          val shuffles = shuffleRe.findAllIn(plan).size
          val spans = wscRe.findAllMatchIn(plan).map(_.group(1).toInt).toSet.size
          val scans = c("FileScan parquet") + c("Scan parquet")
          val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).size
          println(s"| $name | $shuffles | ${c("BroadcastExchange")} | " +
            s"${c("BroadcastHashJoin")} | ${c("SortMergeJoin")} | " +
            s"${c("ShuffledHashJoin")} | ${c("BroadcastNestedLoopJoin")} | " +
            s"${c("CartesianProduct")} | $scans | $pushed | $spans |")
        } catch {
          case e: Throwable => println(s"| $name | ERROR ${e.getMessage} |")
        }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  /** Synthetic scenario (testdata isn't partitioned): write events
    * time-partitioned, declare `datePartitionColumn`, and show the derived dt
    * bounds landing in PartitionFilters for pullAll and the PIT prefilter.
    */
  private def pitPartitionPruning(spark: SparkSession, sfDir: String): Unit = {
    import java.sql.Timestamp
    import graft.ops.{FeatureStoreOps, FeatureView, Layout}
    import graft.sources.GraftSource
    val path = java.nio.file.Files.createTempDirectory("graft-audit").toString + "/ev"
    val ev = GraftSource.of(table = Some(s"$sfDir/events.parquet"),
      timestampField = Some("ts")).load(spark)
    Layout.writeTimePartitioned(ev, path, "ts")
    val src = GraftSource.of(table = Some(path), timestampField = Some("ts"),
      datePartitionColumn = Some("dt"))
    println("---- pullAll over dt-partitioned layout ----")
    FeatureStoreOps.pullAll(spark, src, Seq("user_id"), Seq("value"), "ts",
      Timestamp.valueOf("2024-01-06 00:00:00"),
      Timestamp.valueOf("2024-01-07 23:59:59")).toDF.explain("formatted")
    println("---- pointInTime prefilter over dt-partitioned layout ----")
    import spark.implicits._
    val ent = Seq((3L, Timestamp.valueOf("2024-01-08 00:00:00")))
      .toDF("user_id", "event_timestamp")
    val fv = FeatureView("ev", src, Seq("user_id"), Seq("value"), 2 * 86400L)
    FeatureStoreOps.pointInTime(spark, ent, Seq(fv)).toDF.explain("formatted")
  }
}
