package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe corpus generator (dev tool, not part of the driver contract,
  * like [[Prof]]/[[Explain]]): writes a copy of a testdata directory with
  * selected tables replicated ×N under shifted primary keys, so `Prof` can
  * measure how a query family scales with data volume on otherwise-identical
  * table shapes.
  *
  * Key shifting preserves join semantics exactly for the relational facts:
  * each replica's lineitem rows still match only their own replica's orders
  * rows (join multiplicity per key is unchanged), while o_custkey is left
  * alone — a customer simply has ×N orders, which is what organic fact
  * growth looks like. Tables not in the fan list are copied unchanged.
  *
  * For the entity/content tables (documents, customer) the SAME content is
  * kept under N distinct ids — deliberately ADVERSARIAL for near-dup and
  * fuzzy-match queries: every doc/name gains an N-copy clique, so pairwise
  * candidate/output sets amplify ×N², not ×N. That is the corpus the pair-
  * emitting-vs-cluster-assignment comparison in SURVEY §4.4.8 is measured on.
  *
  * Usage: `sbt "runMain graft.ProbeGen <base> <out> <factor> [t1,t2,...]"`
  * e.g. `sbt "runMain graft.ProbeGen /root/testdata/sf0.1 /tmp/probe_x10 10"`
  * fans the default orders,lineitem; pass `documents,customer` (etc.) to fan
  * the clique-probe tables instead.
  */
object ProbeGen {
  /** Primary key to shift per fannable table. */
  private val keyOf = Map(
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey",
    "customer" -> "c_custkey", "documents" -> "doc_id",
    "events" -> "event_id", "embeddings" -> "vec_id",
    // part fans like customer: same content under N distinct ids (price/
    // size duplicated), which for SKY-1 means every frontier point gains
    // N equal-tie copies — all must survive by the no-strict-dominator law.
    "part" -> "p_partkey")

  def main(args: Array[String]): Unit = {
    val (baseDir, outDir, factor, fanTables) = args match {
      case Array(b, o, f)     => (b, o, f.toLong, Seq("orders", "lineitem"))
      case Array(b, o, f, ts) => (b, o, f.toLong, ts.split(",").toSeq)
    }
    // `len:documents` fans document LENGTH instead of row count: text
    // repeated ×factor (space-joined), doc count unchanged — the probe
    // axis for per-doc text machinery (§4.4.11: the HOF captured-subtree
    // trap was O(len²) per doc, invisible on row-count fans whose docs
    // stay ~40 words).
    val lenTables = fanTables.collect { case s if s.startsWith("len:") => s.drop(4) }
    // lenFan rewrites (text, n_chars) — documents-schema only; fail fast
    // on any other target instead of dying mid-write with an unresolved
    // column after some tables already landed (review r12).
    require(lenTables.forall(_ == "documents"),
      s"len: fan supports only 'documents' (got ${lenTables.mkString(",")})")
    // array_repeat takes an Int count: a factor above Int.MaxValue would
    // silently truncate (possibly to a negative repeat count) instead of
    // failing fast like the len-target check above (ADVICE r12).
    require(factor > 0 && factor <= Int.MaxValue,
      s"fan factor must be in [1, ${Int.MaxValue}] (got $factor)")
    val spark = GraftSession.local()
    // Offset far beyond any base key so replica key ranges never collide.
    val off = 1000000000L
    // Repartition before write: the sf sources are single parquet files,
    // so an unrepartitioned fan writes ONE file and every probe query
    // then scans + explodes it on ONE core (the 20 MB ×100 documents fan
    // sits under maxPartitionBytes) — the probe would measure the
    // synthetic file layout, not the query. A real 100 TB table brings
    // its own input splits.
    // The repartition runs BEFORE the ×factor explode: it shuffles only
    // the base table's bytes, and the narrow explode then fans out inside
    // each of the same N partitions — identical N-file layout at
    // 1/factor the shuffle cost of repartitioning the exploded rows
    // (review r12: a ×100 fan was shuffling ~2 GB to spread 20 MB).
    def fan(df: DataFrame, keyCol: String): DataFrame =
      df.repartition(spark.sparkContext.defaultParallelism * 2)
        .withColumn("_i", explode(sequence(lit(0L), lit(factor - 1L))))
        .withColumn(keyCol, col(keyCol) + col("_i") * off)
        .drop("_i")
    val all = Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")
    def lenFan(df: DataFrame): DataFrame = df
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .withColumn("text", array_join(array_repeat(col("text"), factor.toInt), " "))
      .withColumn("n_chars", length(col("text")).cast("long"))
    for (t <- all) {
      val src = spark.read.parquet(s"$baseDir/$t.parquet")
      val out =
        if (lenTables.contains(t)) lenFan(src)
        else if (fanTables.contains(t)) fan(src, keyOf(t))
        else src
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    spark.stop()
  }
}
