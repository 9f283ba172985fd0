package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRecord
import graft.plans.{GraftFunctions, Kernel, KernelExpr, KernelTable}

/** Every [[KernelTable]] row through both of its paths: the generated
  * call (codegen only, no silent fallback) and the interpreted one
  * (reflection on the same method), on a null, an empty, a truncated
  * and a valid input; plus the constant-folded form of each input.
  */
class KernelTableSpec extends AnyFunSuite {
  import TestSession._

  private def session(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    GraftFunctions.register(s)
    s
  }

  private lazy val generated = session(
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")

  private lazy val interpreted = session(
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")

  private lazy val doc: DataFrame = Tables.documents(spark, sf)
    .filter(length(col("text")) > 40).orderBy("doc_id").limit(1).cache()
  private lazy val text: String = doc.head().getAs[String]("text")
  private def payload(gen: DataFrame => Dataset[MediaRecord]): Array[Byte] = gen(doc).head().payload

  /** Per row: its literal parameters and one valid input. */
  private lazy val cases: Map[String, (Seq[Any], Any)] = Map(
    "graft_clean_text" -> (Nil, text),
    "graft_simhash" -> (Nil, text),
    "graft_simhash_wide" -> (Nil, text),
    "graft_cdc_bounds" -> (Seq(64L, 16), text),
    "graft_fh_embed" -> (Seq(16), text),
    "graft_word_ngrams" -> (Seq(3), text.split(" ").toSeq),
    "graft_bpe_stats" -> (Nil, text),
    "graft_bpe_tokens" -> (Nil, text.split(" ").head),
    "graft_ema_arr" -> (Seq(0.25), Seq(1.0, 2.5, -3.0, 4.0)),
    "graft_cumsum_arr" -> (Nil, Seq(1.0, 2.5, -3.0, 4.0)),
    "graft_byte_stats" -> (Nil, payload(Multimodal.mediaFromDocuments)),
    "graft_wav_stats" -> (Nil, payload(Multimodal.wavFromDocuments(_))),
    "graft_g711_stats" -> (Nil, payload(Multimodal.g711FromDocuments(_, "mulaw"))),
    "graft_bmp_stats" -> (Nil, payload(Multimodal.bmpFromDocuments(_))),
    "graft_png_stats" -> (Nil, payload(Multimodal.pngFromDocuments(_))),
    "graft_jpeg_stats" -> (Nil, payload(Multimodal.jpegFromDocuments(_))),
    "graft_qoi_stats" -> (Nil, payload(Multimodal.qoiFromDocuments(_))),
    "graft_gif_stats" -> (Nil, payload(Multimodal.gifFromDocuments(_))),
    "graft_zip_stats" -> (Nil, payload(Multimodal.zipFromDocuments(_))),
    "graft_targz_stats" -> (Nil, payload(Multimodal.targzFromDocuments(_))),
    "graft_deflate_stats" -> (Nil, payload(Multimodal.deflateFromDocuments(_))),
    "graft_b64_stats" -> (Nil, payload(Multimodal.base64FromDocuments(_))),
    "graft_utf8_stats" -> (Nil, payload(Multimodal.utf8FromDocuments(_))),
    "graft_utf16_stats" -> (Nil, payload(Multimodal.utf16FromDocuments(_))),
    "graft_punycode_stats" -> (Nil, payload(Multimodal.punycodeFromDocuments(_))),
    "graft_lz4_stats" -> (Nil, payload(Multimodal.lz4FromDocuments(_))),
    "graft_snappy_stats" -> (Nil, payload(Multimodal.snappyFromDocuments(_))),
    "graft_proto_stats" -> (Nil, payload(Multimodal.protoFromDocuments(_))))

  /** null, empty, truncated (first half) and valid forms of `valid`. */
  private def inputs(valid: Any): Seq[(String, Any)] = {
    val (empty, half) = valid match {
      case s: String      => ("", s.take(s.length / 2))
      case b: Array[Byte] => (Array.emptyByteArray, b.take(b.length / 2))
      case q: Seq[_]      => (Seq.empty, q.take(q.length / 2))
    }
    Seq("null" -> null, "empty" -> empty, "truncated" -> half, "valid" -> valid)
  }

  private def call(k: Kernel, input: Column): Column =
    call_function(k.name, input +: cases(k.name)._1.map(lit): _*).as("k")

  /** The kernel over a one-row column input; an RDD source, so the
    * optimizer cannot fold the projection into a local relation.
    */
  private def overColumn(s: SparkSession, k: Kernel, v: Any): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(Seq(Row(v)), 1),
      StructType(Seq(StructField("x", k.input, nullable = true)))).select(call(k, col("x")))

  private def overLiteral(s: SparkSession, k: Kernel, v: Any): DataFrame =
    s.range(1).select(call(k, GraftShim.column(Literal.create(v, k.input))))

  private def root(e: Throwable): Throwable =
    if (e.getCause == null || (e.getCause eq e)) e else root(e.getCause)

  /** The rows, or the root error: empty series throw on both paths. */
  private def outcome(df: => DataFrame): Either[String, Seq[Row]] =
    try Right(df.collect().toSeq)
    catch { case e: Exception => val r = root(e); Left(s"${r.getClass.getName}: ${r.getMessage}") }

  test("the table names every case, each once") {
    assert(KernelTable.rows.map(_.name).distinct.size === KernelTable.rows.size)
    assert(KernelTable.rows.map(_.name).toSet === cases.keySet)
  }

  test("every row's SQL name resolves with the row's result type") {
    for (k <- KernelTable.rows) {
      val df = overColumn(generated, k, cases(k.name)._2)
      assert(df.schema("k").dataType === k.result, k.name)
    }
  }

  test("generated and interpreted paths give identical rows on null, empty, truncated and valid input") {
    for (k <- KernelTable.rows; (label, v) <- inputs(cases(k.name)._2)) {
      val gen = outcome(overColumn(generated, k, v))
      val int = outcome(overColumn(interpreted, k, v))
      assert(gen === int, s"${k.name} on $label input")
      if (label == "valid") assert(gen.isRight, s"${k.name} failed on its valid input: $gen")
    }
  }

  test("a constant-folded literal input gives the same row as the column input") {
    for (k <- KernelTable.rows; (label, v) <- inputs(cases(k.name)._2)) {
      val folded = outcome {
        val df = overLiteral(generated, k, v)
        assert(df.queryExecution.optimizedPlan.expressions.forall(_.find(_.isInstanceOf[KernelExpr]).isEmpty),
          s"${k.name} on $label input was not constant-folded")
        df
      }
      assert(folded === outcome(overColumn(generated, k, v)), s"${k.name} on $label input")
    }
  }

  test("no plan of a table kernel holds a CodegenFallback") {
    for (k <- KernelTable.rows) {
      val plan = overColumn(generated, k, cases(k.name)._2).queryExecution.sparkPlan
      val exprs = plan.collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
      assert(exprs.exists(_.isInstanceOf[KernelExpr]), s"${k.name} is not a KernelExpr:\n$plan")
      assert(!exprs.exists(_.isInstanceOf[CodegenFallback]), s"${k.name} plans a CodegenFallback:\n$plan")
    }
  }
}
