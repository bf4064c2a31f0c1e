package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dumps the optimized physical plan of every registered query
  * ([[SparkEntry.queries]], sorted by name) to PLANS.md — the per-round
  * audit trail for the scale review (pushdown present? dimension joins
  * broadcast? shuffles only where semantics require?). A query added to a
  * module's registry shows up here with no further edit.
  *
  * Usage: `sbt "runMain graft.PlanDump [sfDir]"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of every registered query\n\n")
    sb.append("Generated by `graft.PlanDump` (re-run per round). What to check\n")
    sb.append("per plan, per the 100 TB posture:\n\n")
    sb.append("- `PushedFilters` / `ReadSchema` on every `FileScan` — predicate\n")
    sb.append("  pushdown and column pruning reach parquet;\n")
    sb.append("- dimension joins are `BroadcastHashJoin` (no shuffle of the fact\n")
    sb.append("  side); shuffles (`Exchange hashpartitioning`) appear only where\n")
    sb.append("  semantics require the key (group-by keys, window partitions,\n")
    sb.append("  LSH band/bucket keys);\n")
    sb.append("- custom kernels (`minhashsigexpr`, `wordshinglesexpr`,\n")
    sb.append("  `arrayjaccardexpr`, ...) sit inside scan-side Projects —\n")
    sb.append("  codegen'd, narrow, evaluated before any exchange;\n")
    sb.append("- final `Sort`/top-k only at output granularity (driver-bound\n")
    sb.append("  result sizes), `TakeOrderedAndProject` for LIMIT queries.\n\n")

    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    all.foreach { case (name, fn) =>
      sb.append(s"## $name\n\n```\n")
      val plan = try fn(spark, sfDir).queryExecution.executedPlan.toString
      catch { case e: Throwable => s"<failed: ${e.getMessage}>" }
      sb.append(plan.linesIterator.take(60).mkString("\n"))
      sb.append("\n```\n\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plandump] wrote PLANS.md (${all.size} plans)")
    spark.stop()
  }
}
