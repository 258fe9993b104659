package enginebench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The rules the benchmark's numbers rest on. */
class BenchSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ------------------------------------------------------------ tail rule

  test("tail: the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90, 90.0)))
    assert(xs.count(_ > 90.0) == 10)
    // n = 21: p = floor(100·11/21) = 52, nearest rank 11; ten samples beyond.
    val ys = (1 to 21).map(_.toDouble)
    assert(Stats.tail(ys) == ((52, 11.0)))
    assert(ys.count(_ > 11.0) == 10)
    // Input order does not matter.
    assert(Stats.tail(scala.util.Random.shuffle(xs)) == ((90, 90.0)))
  }

  test("tail: with too few samples for a tail above the median, the maximum is reported") {
    // n ≤ 10: no percentile has ten samples beyond it at all.
    for (n <- 1 to 10) assert(Stats.tail((1 to n).map(_.toDouble)) == ((100, n.toDouble)))
    // 11 ≤ n ≤ 20: the rule's percentile is at or under the median.
    for (n <- 11 to 20) assert(Stats.tail((1 to n).map(_.toDouble).reverse) == ((100, n.toDouble)))
    assertThrows[IllegalArgumentException](Stats.tail(Nil))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  // ------------------------------------------------------- layer arithmetic

  test("gap: op wall minus the union of its job intervals, clipped to the op") {
    // Jobs overlap (1-3, 2-4) and one starts before the op (−1-0.5).
    val jobs = Seq((1.0, 3.0), (2.0, 4.0), (-1.0, 0.5))
    assert(Stats.unionLength(jobs) == 4.5)
    assert(Stats.selfTime(0.0, 10.0, jobs) == 10.0 - 3.0 - 0.5)
    assert(Stats.selfTime(0.0, 10.0, Nil) == 10.0)
  }

  test("self time: span minus the part its children cover; nested and empty children") {
    assert(Stats.selfTime(0.0, 5.0, Seq((1.0, 2.0), (1.5, 1.8), (4.0, 4.0))) == 4.0)
    // A child running past its parent counts only inside the parent.
    assert(Stats.selfTime(0.0, 5.0, Seq((4.0, 9.0))) == 4.0)
    assert(Stats.unionLength(Seq((0.0, 1.0), (1.0, 2.0))) == 2.0)
  }

  // ----------------------------------------------------------------- digest

  test("digest ignores row order and partitioning, and sees every value") {
    import spark.implicits._
    val df = Seq((1L, "a", Option(1.5)), (2L, "b", None), (3L, "c,d", Option(2.25)))
      .toDF("id", "s", "x")
    val base = Stats.digest(df)
    assert(base._1 == 3L)
    assert(Stats.digest(df.repartition(3)) == base)
    assert(Stats.digest(df.orderBy(col("id").desc).coalesce(1)) == base)
    assert(Stats.digest(df.union(df).distinct()) == base)
    // One changed value, or NULL turned into a value, moves the hash.
    assert(Stats.digest(df.withColumn("s", when(col("id") === 2, "B").otherwise(col("s"))))._2 != base._2)
    assert(Stats.digest(df.na.fill(0.0, Seq("x")))._2 != base._2)
    // A NULL and an empty string render differently.
    val n = Seq(Option.empty[String]).toDF("v")
    val e = Seq(Option("")).toDF("v")
    assert(Stats.digest(n)._2 != Stats.digest(e)._2)
  }

  // -------------------------------------------------------------- generator

  test("drops: the same seed gives identical bytes; another seed other drops, same size mix") {
    val a = Gen.drops(7L, 2)
    val b = Gen.drops(7L, 2)
    val c = Gen.drops(8L, 2)
    assert(a.flatten.map(_.bytes.toSeq) == b.flatten.map(_.bytes.toSeq))
    assert(a.flatten.map(_.bytes.toSeq) != c.flatten.map(_.bytes.toSeq))
    def mix(ds: Seq[Seq[Gen.Drop]]) = ds.map(cy => (cy.count(!_.large), cy.count(_.large)))
    assert(mix(a) == Seq(Gen.WarmMix, Gen.CycleMix, Gen.CycleMix))
    assert(mix(c) == mix(a))
    assert(a.flatten.map(_.rows).sum == c.flatten.map(_.rows).sum)
    // Ids are unique and contiguous across the run.
    assert(a.flatten.map(_.firstId) == a.flatten.map(_.rows.toLong).scanLeft(0L)(_ + _).init)
  }

  test("drops: the generator's own row and defect counts match the CSV text") {
    val d = Gen.drop(3L, 0, large = false, firstId = 100L, rows = 2000)
    val lines = new String(d.bytes, UTF_8).split("\n").toSeq
    assert(lines.head == "id,name,category,amount,updated_at")
    assert(lines.size == d.rows + 1)
    val bad = lines.tail.count(l => l.contains("n/a") || l.contains("2024-13-45") ||
      !l.matches(""".*,\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d$"""))
    assert(bad == d.bad && d.bad > 0)
  }

  test("a drop lands with exactly the generator's read and malformed counts") {
    val d = Gen.drop(5L, 0, large = false, firstId = 0L, rows = 3000)
    val dir = java.nio.file.Files.createTempDirectory("drop")
    try {
      val csv = dir.resolve("d.csv")
      java.nio.file.Files.write(csv, d.bytes)
      val r = graft.sources.Ingest.runIngestJobObserved(spark, csv.toString, Gen.DropSchema,
        dir.resolve("wh").toString, dir.resolve("quarantine").toString)
      assert(r.rowsRead == d.rows && r.rowsQuarantined == d.bad && d.bad > 0)
      assert(spark.read.parquet(dir.resolve("wh").toString).select(countDistinct(col("id"))).head().getLong(0)
        == d.rows - d.bad)
    } finally {
      val s = java.nio.file.Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }

  test("tables: a fixed seed, so every checkout generates the same rows") {
    val a = Gen.tables
    val b = Gen.tables
    assert(a.map(_._1) == graft.core.Tables.names)
    assert(a.map(t => (t._1, t._3)) == b.map(t => (t._1, t._3)))
    assert(a.find(_._1 == "lineitem").get._3.size > a.find(_._1 == "orders").get._3.size)
  }
}
