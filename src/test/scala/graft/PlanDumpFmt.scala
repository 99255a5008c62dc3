import java.nio.file.{Files, Paths}

/** Optimization-round evidence: dump `.explain("formatted")` for
  * declared queries into $PLAN_DIR/<query>_<suffix>.txt (default
  * plans/r18). Args:
  *   arg0 = suffix ("before" / "after"), default "before"
  *   arg1 = comma-separated query ids, default ALL declared ids
  * Uses the test suites' session ([[graft.TestSpark]]; local[4] is
  * plan-equivalent to the bench session — the partition count only
  * changes Exchange arity, not shape).
  */
object PlanDumpFmt extends App {
  val suffix = if (args.nonEmpty) args(0) else "before"
  val only: Option[Set[String]] =
    if (args.length > 1) Some(args(1).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
  val spark = graft.TestSpark.spark
  spark.sparkContext.setLogLevel("ERROR")
  val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
  val dir = sys.env.getOrElse("PLAN_DIR", "plans/r18")
  Files.createDirectories(Paths.get(dir))
  var failed = 0
  val names = graft.SparkEntry.queries.keys.toSeq.sorted
    .filter(n => only.forall(_.contains(n)))
  for (n <- names) {
    val txt =
      try graft.SparkEntry.queries(n)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      catch { case e: Throwable => failed += 1; s"PLAN FAILED: ${e.getMessage}" }
    Files.writeString(Paths.get(s"$dir/${n}_$suffix.txt"), txt)
  }
  println(s"WROTE $dir/*_$suffix.txt (${names.size} files, $failed failed)")
  spark.stop()
  if (failed > 0) sys.exit(1)
}
