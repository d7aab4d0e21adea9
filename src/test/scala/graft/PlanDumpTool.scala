package graft

import scala.util.chaining._

/** Ad-hoc plan inspector (test scope, not shipped): prints the
  * formatted explain of the queries named on the command line at
  * sf0.001, or of every query in [[SparkEntry.queries]] when none is
  * named. With -o DIR as the first two args, additionally writes each
  * query's explain to DIR/<query>.txt (the plans/rNN evidence files)
  * and its optimized logical plan, run-to-run noise masked (exprIds
  * `#123` → `#N`, JVM lambda and object identities, scratch-directory
  * digits), to DIR/<query>.opt.txt — two trees' .opt.txt files diff
  * directly for a plan A/B. */
object PlanDumpTool {
  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    val (outDir, named) = args.toSeq match {
      case Seq("-o", dir, rest @ _*) => (Some(dir), rest)
      case other => (None, other)
    }
    val queries =
      if (named.isEmpty) SparkEntry.queries.keys.toSeq.sorted else named
    outDir.foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    // Run-to-run noise in a plan's text: exprIds, JVM lambda and object
    // identities, and the random digits of scratch-directory names.
    def masked(plan: String): String = plan
      .replaceAll("#\\d+", "#N")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
      .replaceAll("@[0-9a-f]+\\b", "@H")
      .replaceAll("graft_scratch\\d+", "graft_scratchN")
    def write(d: String, name: String, txt: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, name), txt)
    queries.foreach { q =>
      val txt = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.pipe { qe =>
          outDir.foreach(d =>
            write(d, s"$q.opt.txt", masked(qe.optimizedPlan.treeString)))
          qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        }
      println(s"===== $q =====")
      println(txt)
      outDir.foreach(d => write(d, s"$q.txt", txt))
    }
    spark.stop()
  }
}
