package graft

/** Print `explain("formatted")` for one or more declared queries — the
  * source of PLANS.md sections. Usage:
  *   runMain graft.PlanDump q01_pricing_summary[,t16_tfidf,...] [sfDir]
  * AQE is left ON (the production setting); the printed plan is the
  * pre-execution adaptive tree, which is what plan review needs (exchanges,
  * pushed filters, codegen spans).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq)
      .getOrElse(Seq("q01_pricing_summary"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = graft.util.Session.forQueries("local[4]", 8, "ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
