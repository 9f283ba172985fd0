package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{TextFunctions, VectorFunctions}

/** Per-row cost of graft's custom kernels, each called through its
  * public entry point (a registered `graft_*` SQL function,
  * `VectorFunctions.dot` or `TextFunctions.ngrams`) over generated
  * columns of fixed size: `Rows` texts of 64 tokens and `Rows`
  * 64-dim float and double vectors, cached in memory. A kernel's cost
  * is the median time of projecting it minus the median time of
  * projecting its bare input columns, divided by the row count.
  */
object Kernels {
  val Rows = 40000
  val Dim = 64
  val Reps = 5

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Returns kernel name -> ns per row. */
  def run(spark: SparkSession, seed: Long): Seq[(String, Double)] = {
    graft.plans.GraftFunctions.register(spark)
    val vocab = (0 until 64).map(i => s"'tok$i'").mkString(", ")
    def vec(salt: Int, tpe: String): Column = expr(
      s"transform(sequence(0, ${Dim - 1}), i -> cast((pmod(xxhash64(id, i, $salt, ${seed}L), 2001) - 1000) / 1000.0 as $tpe))")
    val input = spark.range(Rows)
      .select(
        col("id"),
        expr(s"concat_ws(' ', transform(sequence(0, 63), i -> element_at(array($vocab), " +
          s"cast(pmod(xxhash64(id, i, ${seed}L), 64) as int) + 1)))").as("text"),
        vec(1, "float").as("v"),
        vec(2, "double").as("w"),
        vec(3, "double").as("x"))
      .persist(StorageLevel.MEMORY_ONLY)
    input.count()

    val cents = (0 until 16).map(c => (0 until Dim).map(d => ((c * 31 + d * 17) % 200 - 100) / 100.0))
    // (kernel, its input columns, the kernel call)
    val kernels: Seq[(String, Seq[String], Column)] = Seq(
      ("minhash_sig", Seq("text"), expr("graft_minhash_sig(text)")),
      ("simhash", Seq("text"), expr("graft_simhash(text)")),
      ("cdc_bounds", Seq("text"), expr("graft_cdc_bounds(text, 64L, 16)")),
      ("fh_embed", Seq("text"), expr(s"graft_fh_embed(text, $Dim)")),
      ("ivf_assign", Seq("w"), call_function("graft_ivf_assign", col("w"), typedLit(cents))),
      ("lsh_bucket", Seq("v"), expr("graft_lsh_bucket(v, 16)")),
      ("dot", Seq("w", "x"), VectorFunctions.dot(col("w"), col("x"))),
      ("ngrams", Seq("text"), TextFunctions.ngrams(TextFunctions.tokens(col("text")), 3)))

    // warm each projection once so the timed reps measure the kernel,
    // not its first compile
    kernels.foreach { case (_, in, k) =>
      timeNoop(input.select(in.map(col): _*))
      timeNoop(input.select(k.as("k")))
    }
    val out = kernels.map { case (name, in, k) =>
      val base = median((1 to Reps).map(_ => timeNoop(input.select(in.map(col): _*))))
      val withK = median((1 to Reps).map(_ => timeNoop(input.select(k.as("k")))))
      name -> (withK - base) * 1e9 / Rows
    }
    input.unpersist(blocking = true)
    out
  }
}
