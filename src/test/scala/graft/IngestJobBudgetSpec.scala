package graft

/** A job budget per ingest phase: st23 and st24 run at sf0.001, and the
  * jobs each body phase starts (the `<loop> b<id>: <phase>` job
  * descriptions) are counted over the whole run, with the jobs outside the
  * bodies counted as one more phase. Each count must stay at or under its
  * budget. The budgets are the counts the queries run today; they may only
  * go down.
  */
class IngestJobBudgetSpec extends SparkSpec {

  private val Outside = "outside the bodies"

  /** Jobs per phase while `query` builds its result at sf0.001, with the
    * number of batches whose body ran.
    */
  private def jobsPerPhase(query: String): (Map[String, Int], Int) = {
    val Phase = """\S+ b(\d+): (.+)""".r
    val Body = """\S+ b(\d+)""".r
    val descs = jobsDuring(SparkEntry.queries(query)(spark, "/root/testdata/sf0.001"))
      .map(p => Option(p.getProperty("spark.job.description")).getOrElse(""))
    val keyed = descs.map {
      case Phase(b, phase) => Some(b) -> phase
      case Body(b) => Some(b) -> "unlabelled body jobs"
      case _ => None -> Outside
    }
    (keyed.groupBy(_._2).map { case (k, v) => k -> v.size }, keyed.flatMap(_._1).distinct.size)
  }

  private def checkBudget(query: String, batches: Int, budget: Map[String, Int]): Unit = {
    val (got, ran) = jobsPerPhase(query)
    assert(ran == batches, s"$query: bodies ran for $ran batches, expected $batches")
    val over = got.filter { case (phase, n) => n > budget.getOrElse(phase, 0) }
    assert(over.isEmpty, s"$query: phases over budget ${over.map { case (p, n) =>
      s"$p: $n > ${budget.getOrElse(p, 0)}" }.mkString(", ")}; all counts: $got")
  }

  test("st23: jobs per ingest phase stay within budget") {
    checkBudget("st23_streaming_closure", batches = 3, Map(
      Outside -> 15,
      "probe" -> 36,
      "closure merge" -> 37,
      "staged state writes" -> 9,
      "index append" -> 2 * 3))
  }

  test("st24: jobs per ingest phase stay within budget") {
    checkBudget("st24_streaming_perceptual", batches = 2, Map(
      Outside -> 11,
      "probe" -> 7,
      "pairs write" -> 12,
      "index append" -> 1 * 2))
  }
}
