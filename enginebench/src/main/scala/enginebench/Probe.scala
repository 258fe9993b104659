package enginebench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** The `functions` layer: each `graft_*` expression whose ExpressionSpec
  * parity test names a builtin twin, timed against that twin on the same
  * pinned input (traced run only, after the timed phase). Each side runs
  * once untimed, then [[Reps]] times alternating; the median is reported.
  * `graft_gear_cuts` is left out: its HOF twin re-evaluates the per-char
  * hash transform at every reference unless that array is materialised
  * first, so no single projection times the twin like for like. */
object Probe {
  val Reps = 3
  /** Documents are replicated so an expression's own cost dominates the
    * fixed per-job cost; the two per-word HOF twins (quadratic in words
    * per document) read the table once instead. */
  val DocCopies = 20

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.conf.tables
    val docs1 = graft.core.Tables.pin(graft.core.Tables.load(spark, t, "documents")
      .select(col("doc_id"), col("text")))
    val docs = graft.core.Tables.pin(docs1
      .withColumn("copy", explode(sequence(lit(1), lit(DocCopies))))
      .select((col("doc_id") * DocCopies + col("copy")).as("doc_id"), col("text")))
    val emb = graft.core.Tables.pin(graft.core.Tables.load(spark, t, "embeddings")
      .withColumn("copy", explode(sequence(lit(1), lit(DocCopies))))
      .select(transform(col("embedding"), x => x.cast("double")).as("e"),
        reverse(transform(col("embedding"), x => x.cast("double"))).as("f")))
    val li = graft.core.Tables.pin(graft.core.Tables.load(spark, t, "lineitem").select(col("l_extendedprice")))
    val sets = docs.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("s"))
    val pairs = graft.core.Tables.pin(sets.select(col("doc_id"), col("s").as("a"))
      .join(sets.select((col("doc_id") - 1).as("doc_id"), col("s").as("b")), Seq("doc_id")))

    val P = graft.functions.GraftHashImpl.P
    val text = col("text")
    val words = split(text, " ")
    val n = size(words).cast("double")
    def hofNorm(c: Column) = sqrt(aggregate(transform(c, x => x * x), lit(0.0), (a, x) => a + x))
    val hofDot = aggregate(zip_with(col("e"), col("f"), (x, y) => x * y), lit(0.0), (a, x) => a + x)
    val ws = split(text, " ")
    val bigramRef = array_distinct(when(size(ws) >= 2, zip_with(slice(ws, lit(1), size(ws) - 1),
      slice(ws, lit(2), size(ws) - 1), (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>")))

    val cases: Seq[(String, DataFrame, Column, Column)] = Seq(
      ("poly_hash", docs, poly_hash(text),
        aggregate(split(text, ""), lit(0L), (acc, ch) => (acc * lit(31L) + ascii(ch).cast("long")) % lit(P))),
      ("dot", emb, dot_product(col("e"), col("f")), hofDot),
      ("cosine", emb, cosine_similarity(col("e"), col("f")), hofDot / (hofNorm(col("e")) * hofNorm(col("f")))),
      ("word_entropy", docs1, word_entropy(text),
        aggregate(array_sort(array_distinct(words)), lit(0.0), (acc, w) => {
          val p = size(filter(words, x => x === w)).cast("double") / n
          acc - p * log(p)
        })),
      ("first_digit", li, first_sig_digit(col("l_extendedprice")),
        regexp_extract(col("l_extendedprice").cast("decimal(18,2)").cast("string"), "[1-9]", 0)),
      ("word_bigrams", docs, word_bigrams(text), bigramRef),
      ("sorted_intersect_count", pairs, sorted_intersect_count(array_sort(col("a")), array_sort(col("b"))),
        size(array_intersect(col("a"), col("b")))))

    def time(df: DataFrame, e: Column): Double = {
      val t0 = System.nanoTime()
      df.select(e.as("x")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    cases.foreach { case (name, df, graftE, builtinE) =>
      time(df, graftE); time(df, builtinE)
      val samples = (0 until Reps).map(_ => (time(df, graftE), time(df, builtinE)))
      ctx.out.layers(s"functions.${name}_s") = Stats.median(samples.map(_._1))
      ctx.out.layers(s"functions.${name}_builtin_s") = Stats.median(samples.map(_._2))
      System.err.println(s"[enginebench] probe $name: ${samples.mkString(" ")}")
    }
    Main.release(spark)
  }
}
