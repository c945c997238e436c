package graft

import graft.expressions._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.util.Conf.withConf
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{CodegenObjectFactoryMode, Expression}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import scala.util.Random

/** Every custom expression in `graft.expressions` returns the same rows
  * interpreted (whole-stage codegen off, factories in `NO_CODEGEN`) as
  * generated (`CODEGEN_ONLY`, so a class that fails to compile fails the
  * spec instead of falling back): ingest-loop bodies over small batches run
  * interpreted, the rest of graft runs generated.
  */
class ExpressionModesSpec extends SparkSpec {

  private val words = Seq("the", "and", "der", "und", "le", "de", "la", "of", "data",
    "spark", "x", "ab", "Über", "naïve", "日本語", "中文", "😀", "!!", "...", "a-b", "42")

  /** Seeded texts: nulls, empty and blank strings, repeated lines, mixed
    * scripts, astral code points.
    */
  private def text(r: Random): String = r.nextInt(10) match {
    case 0 => null
    case 1 => ""
    case 2 => " \t\n "
    case 3 =>
      val line = Seq.fill(1 + r.nextInt(4))(words(r.nextInt(words.size))).mkString(" ")
      Seq.fill(2 + r.nextInt(3))(line).mkString("\n")
    case _ => Seq.fill(r.nextInt(40))(words(r.nextInt(words.size)))
      .mkString(if (r.nextBoolean()) " " else "  ")
  }

  private val Dim = 8

  private def vec(r: Random): Seq[Double] =
    if (r.nextInt(8) == 0) null else Seq.fill(Dim)(r.nextGaussian())

  private lazy val sample: DataFrame = {
    val r = new Random(20261020L)
    val rows = (0 until 80).map { i =>
      val codes = if (r.nextInt(8) == 0) null else Seq.fill(2)(r.nextInt(4))
      Row(i.toLong, text(r), text(r), vec(r), vec(r),
        Option(vec(r)).map(_.map(_.toFloat)).orNull,
        if (r.nextInt(8) == 0) null else r.nextGaussian() * 3, codes)
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("text2", StringType), StructField("a", ArrayType(DoubleType)),
      StructField("b", ArrayType(DoubleType)), StructField("f", ArrayType(FloatType)),
      StructField("d", DoubleType), StructField("codes", ArrayType(IntegerType))))
    // an RDD-backed frame, so no optimizer rule folds a projection into a
    // local relation and evaluates it on the driver
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def e(c: String): Expression = ExpressionUtils.expression(col(c))
  private def column(x: Expression): Column = ExpressionUtils.column(x)

  private val planes = VF.hyperplanes(6, Dim)
  private val centroids = Array.tabulate(5, Dim)((i, j) => math.sin(i * 7.0 + j))
  private val codebooks = Array.tabulate(2, 4, Dim / 2)((m, k, j) => math.cos(m + k * 3.0 + j))
  private val luts = org.apache.spark.sql.functions.lit(
    Array.tabulate(2, 4)((m, k) => m * 0.5 + k * 0.25))

  /** One projection per expression, named after it. */
  private val projections: Seq[(String, Column)] = Seq(
    "TextStatsExpr" -> TF.textStats(col("text")),
    "CharDistributionExpr" -> TF.charDistribution(col("text")),
    "RepetitionStatsExpr" -> TF.repetitionStats(col("text")),
    "TokenCountExpr" -> TF.vocabTokenCount(col("text")),
    "LangIdExpr" -> TF.langIdScore(col("text")),
    "NgramLmExpr" -> TF.ngramLmStats(col("text")),
    "NfcNormalize" -> TF.nfcNormalize(col("text")),
    "ShingleStrings" -> TF.shingles(col("text"), 2),
    "ShingleHashes" -> TF.shingleHashes(col("text"), 3),
    "MinHashSig" -> TF.minhashSignature(col("text"), 3, 8),
    "MinHashSigMd5" -> TF.minhashSignatureMd5(col("text"), 3, 8),
    "SimHash" -> TF.simhash64(col("text")),
    "SimHashMd5" -> TF.simhash60(col("text")),
    "JaccardSorted" -> TF.jaccardSorted(TF.shingleHashes(col("text"), 1),
      TF.shingleHashes(col("text2"), 1)),
    "DotProduct" -> VF.dot(col("a"), col("b")),
    "DotProduct(float)" -> VF.dot(col("f"), col("a")),
    "CosineSim" -> VF.cosine(col("a"), col("b")),
    "L2Distance" -> VF.l2Distance(col("f"), col("b")),
    "QuantizeI8" -> VF.quantizeI8(col("a")),
    "QuantizeI8(float)" -> VF.quantizeI8(col("f")),
    "LshBucket" -> VF.lshBucket(col("a"), planes),
    "NearestCells" -> VF.nearestCells(col("f"), centroids, 2),
    "PqEncode" -> column(PqEncode(e("a"), codebooks)),
    "PqAdcScore" -> column(PqAdcScore(e("codes"), ExpressionUtils.expression(luts))),
    "QuantileBucket" -> column(QuantileBucket(e("d"), Array(-2.0, 0.0, 0.5, 3.0))))

  /** The generators, each in a select of its own. */
  private val generators: Seq[(String, Column)] = Seq(
    "ChunkSpans" -> column(ChunkSpans(e("text"), 7, 5)),
    "CdcSpans" -> TF.cdcSpans(col("text"), 4, 257, 1000003, 8))

  private val interpreted = Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString)
  private val generated = Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "true",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.CODEGEN_ONLY.toString)

  /** `frame`'s rows in id order, and whether its plan had a whole-stage
    * stage. A new frame per mode: a frame keeps the plan it first built.
    */
  private def run(frame: () => DataFrame, mode: Seq[(String, String)]): (Seq[String], Boolean) =
    withConf(spark, mode: _*) {
      val df = frame()
      val rows = df.collect().sortBy(r => (r.getLong(0), r.toString)).map(_.toString).toSeq
      (rows, df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
    }

  private def assertModesAgree(name: String, frame: () => DataFrame): Unit = {
    val (interp, interpStaged) = run(frame, interpreted)
    val (gen, genStaged) = run(frame, generated)
    assert(!interpStaged && genStaged, s"$name: modes did not take (interpreted " +
      s"staged=$interpStaged, generated staged=$genStaged)")
    assert(interp.size == gen.size && interp.nonEmpty, s"$name: ${interp.size} vs ${gen.size} rows")
    val diff = interp.zip(gen).filter { case (a, b) => a != b }
    assert(diff.isEmpty, s"$name: interpreted != generated, first: ${diff.headOption}")
  }

  test("the sample holds nulls, empty and blank strings, and null vectors") {
    val texts = sample.select("text").collect().map(_.getString(0))
    assert(texts.contains(null) && texts.contains("") && texts.exists(t => t != null &&
      t.nonEmpty && t.trim.isEmpty))
    assert(sample.where(col("a").isNull).count() > 0 && sample.where(col("d").isNull).count() > 0)
  }

  for ((name, c) <- projections)
    test(s"$name: interpreted rows == generated rows") {
      assertModesAgree(name, () => sample.select(col("id"), c.as("v")))
    }

  for ((name, c) <- generators)
    test(s"$name: interpreted rows == generated rows") {
      assertModesAgree(name, () => sample.select(col("id"), c))
    }
}
