package enginebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Input generators. Everything here is a pure function of its seed.
  *
  * Two input families:
  *  - the analytical tables the query workloads read (the ten tables of the
  *    engine's test corpus, same names, columns and value domains), made
  *    once per checkout from a FIXED seed so the recorded result digests
  *    hold for every run;
  *  - the partner-CSV drops of the ingest workload, made from the run's
  *    `--seed`: the seed changes their order and content, never their size
  *    mix or malformed share.
  */
object Gen {

  // ---------------------------------------------------------------- tables

  /** Table seed. Changing it, or anything in [[writeTables]], changes
    * every expected digest: bump [[TablesVersion]] and re-record. */
  val TableSeed = 20240101L
  val TablesVersion = "t1"

  /** Scale as a fraction of the engine's sf1 row counts (lineitem ≈ 6M·sf). */
  val Scale = 0.02

  private val Segments = Array("MACHINERY", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD", "BUILDING")
  private val Adjectives = Array("blue", "old", "red", "small", "new", "large", "hot", "cold")
  private val Nouns = Array("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
  private val PartTypes = Array("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("signup", "click", "view", "purchase", "error")
  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "en", "es", "es", "de", "de", "fr", "fr", "zh", "zh")

  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0
  private def day(epochDay: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(LocalDate.ofEpochDay(epochDay).atStartOfDay(ZoneOffset.UTC).toInstant)

  /** Row counts per table at [[Scale]]. */
  def rowCounts: Map[String, Int] = {
    def n(sf1: Double, floor: Int) = math.max(floor, math.round(sf1 * Scale).toInt)
    Map("customer" -> n(150000, 150), "supplier" -> n(10000, 10), "part" -> n(200000, 200),
      "orders" -> n(1500000, 1500), "events" -> n(1000000, 1000),
      "documents" -> n(50000, 500), "embeddings" -> n(20000, 500))
  }

  /** The ten tables as `(name, schema, rows)`; `lineitem` fans out of `orders`. */
  def tables: Seq[(String, StructType, Seq[Row])] = {
    val r = new SplittableRandom(TableSeed)
    val c = rowCounts
    val (nCust, nSupp, nPart, nOrd) = (c("customer"), c("supplier"), c("part"), c("orders"))
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (s, i) => Row(i, s) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
      round2(r.nextDouble(-999.99, 9999.99)), Segments(r.nextInt(5))))
    val supplier = (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
      round2(r.nextDouble(-999.99, 9999.99))))
    val part = (0 until nPart).map(i => Row(i.toLong,
      s"${Adjectives(r.nextInt(8))} ${Nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
      PartTypes(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val d0 = LocalDate.of(1995, 1, 1).toEpochDay
    val orderSpan = (LocalDate.of(2001, 8, 1).toEpochDay - d0).toInt
    val orders = Seq.newBuilder[Row]
    val lineitem = Seq.newBuilder[Row]
    for (o <- 0 until nOrd) {
      val od = d0 + r.nextInt(orderSpan + 1)
      orders += Row(o.toLong, r.nextInt(nCust).toLong, "OFP".charAt(r.nextInt(3)).toString,
        round2(r.nextDouble(1000.0, 500000.0)), day(od), Priorities(r.nextInt(5)))
      for (ln <- 1 to 1 + r.nextInt(7)) {
        val qty = (1 + r.nextInt(50)).toDouble
        lineitem += Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln, qty,
          round2(qty * r.nextDouble(900.0, 2100.0)), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
          day(od + 1 + r.nextInt(95)))
      }
    }
    // events.ts is written as epoch NANOSECONDS in a plain long column:
    // the engine's corpus stores parquet TIMESTAMP(NANOS), which Spark
    // reads as a long under nanosAsLong, and Tables.load converts either.
    val nEv = c("events")
    val t0 = LocalDate.of(2024, 1, 1).atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000000000L
    val evSpan = 30L * 86400L * 1000000000L
    val users = math.max(15, nEv * 15 / 1000)
    val events = (0 until nEv).map { i =>
      val jitter = (r.nextDouble() - 0.5) * 2.0 * 3600e9
      val ts = math.min(math.max(t0 + (evSpan.toDouble * i / nEv + jitter).toLong, t0), t0 + evSpan - 1)
      Row(i.toLong, ts, r.nextInt(users).toLong, EventTypes(r.nextInt(5)),
        round2(-math.log(1.0 - r.nextDouble()) * 50.0), s"""{"k": ${r.nextInt(100)}}""")
    }
    // Documents: fresh texts plus ~3% exact copies and ~10% near copies
    // (a few words swapped) of earlier documents, so dedup finds work.
    val nDoc = c("documents")
    val texts = new Array[String](nDoc)
    for (i <- 0 until nDoc) {
      val u = r.nextDouble()
      texts(i) =
        if (i > 10 && u < 0.03) texts(r.nextInt(i))
        else if (i > 10 && u < 0.13) {
          val w = texts(r.nextInt(i)).split(" ")
          for (_ <- 0 until 1 + w.length / 20) w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
          w.mkString(" ")
        } else Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    val documents = texts.indices.map(i => Row(i.toLong, texts(i), Langs(r.nextInt(Langs.length)),
      s"src${i % 20}", texts(i).length.toLong))
    val centroids = Array.fill(10, 64)(r.nextDouble(-0.2, 0.2))
    val embeddings = (0 until c("embeddings")).map { i =>
      val label = r.nextInt(10)
      Row(i.toLong, centroids(label).map(x => (x + r.nextDouble(-0.1, 0.1)).toFloat).toSeq, label)
    }
    def st(ddl: String) = StructType.fromDDL(ddl)
    Seq(
      ("region", st("r_regionkey INT, r_name STRING"), region),
      ("nation", st("n_nationkey INT, n_name STRING, n_regionkey INT"), nation),
      ("customer", st("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"), customer),
      ("supplier", st("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"), supplier),
      ("part", st("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE"), part),
      ("orders", st("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"), orders.result()),
      ("lineitem", st("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"), lineitem.result()),
      ("events", st("event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"), events),
      ("documents", st("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"), documents),
      ("embeddings", st("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"), embeddings))
  }

  /** Write every table as `<dir>/<name>.parquet` (one file each, like the
    * engine's corpus); a `_DONE` marker makes the directory reusable. */
  def writeTables(spark: SparkSession, dir: Path): Unit = {
    if (Files.exists(dir.resolve("_DONE"))) return
    tables.foreach { case (name, schema, rows) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    }
    Files.writeString(dir.resolve("_DONE"), TablesVersion)
  }

  // ----------------------------------------------------------- CSV drops

  /** Partner-CSV schema (FIXTURES §B). */
  val DropSchema: StructType = StructType.fromDDL(
    "id BIGINT, name STRING, category STRING, amount DOUBLE, updated_at TIMESTAMP")

  val Categories: Array[String] = Array("books", "garden", "toys", "grocery", "tools", "music",
    "sports", "health")
  private val Surnames = Array("Smith", "Garcia", "Chen", "Okafor", "Novak", "Silva", "Kim", "Ito")

  /** Rows in a small and a large drop. Small drops are bound by the
    * per-job fixed cost, large ones by parsing and writing. */
  val SmallRows = 10000
  val LargeRows = 100000
  /** (small, large) drops in the untimed warm cycle and in each timed cycle. */
  val WarmMix: (Int, Int) = (2, 1)
  val CycleMix: (Int, Int) = (20, 2)
  /** One row in this many is malformed (one of three defects). */
  val BadEvery = 97

  /** One generated drop: the CSV bytes and the generator's own counts. */
  final case class Drop(index: Int, large: Boolean, firstId: Long, rows: Int, bad: Int,
                        bytes: Array[Byte])

  /** Which drops are large, per cycle: the warm cycle then `cycles` timed
    * ones. The multiset per cycle is fixed; only the order is seeded. */
  def dropSizes(seed: Long, cycles: Int): Seq[Seq[Boolean]] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    (WarmMix +: Seq.fill(cycles)(CycleMix)).map { case (small, large) =>
      val c = Array.fill(small)(false) ++ Array.fill(large)(true)
      for (i <- c.indices.reverse) { val j = r.nextInt(i + 1); val t = c(i); c(i) = c(j); c(j) = t }
      c.toSeq
    }
  }

  /** The drops of one run, per cycle; ids are unique across the run (the
    * store's key) and drop indices run on across cycles. Each drop depends
    * only on its own spec, so they are built in parallel. */
  def drops(seed: Long, cycles: Int): Seq[Seq[Drop]] = {
    val sizes = dropSizes(seed, cycles)
    val flat = sizes.flatten.toIndexedSeq
    val rows = flat.map(large => if (large) LargeRows else SmallRows)
    val firstIds = rows.scanLeft(0L)(_ + _)
    val built = java.util.stream.IntStream.range(0, flat.size).parallel()
      .mapToObj[Drop](i => drop(seed, i, flat(i), firstIds(i), rows(i))).toArray
    val it = built.iterator.map(_.asInstanceOf[Drop])
    sizes.map(c => c.map(_ => it.next()))
  }

  /** One drop, fully determined by `(seed, index)`. Malformed rows keep a
    * valid unique id (so the `_src`-keyed store still holds one row per id)
    * and break exactly one other field: a non-numeric amount, an
    * unparseable timestamp, or a missing trailing column. */
  def drop(seed: Long, index: Int, large: Boolean, firstId: Long, rows: Int): Drop = {
    val r = new SplittableRandom(seed * 1000003L + index)
    val sb = new java.lang.StringBuilder(rows * 56)
    sb.append("id,name,category,amount,updated_at\n")
    var bad = 0
    val t0 = LocalDate.of(2024, 1, 1).atStartOfDay(ZoneOffset.UTC).toEpochSecond
    for (k <- 0 until rows) {
      val id = firstId + k
      val surname = Surnames(r.nextInt(Surnames.length))
      // One name in eight carries a quoted comma (RFC-4180 path).
      val name = if (r.nextInt(8) == 0) s""""$surname, ${('A' + r.nextInt(26)).toChar}."""" else s"$surname-${r.nextInt(1000)}"
      val cat = Categories(r.nextInt(Categories.length))
      val cents = r.nextInt(1000000)
      val ts = java.time.Instant.ofEpochSecond(t0 + r.nextInt(86400 * 60)).toString.stripSuffix("Z")
      val defect = if (r.nextInt(BadEvery) == 0) 1 + r.nextInt(3) else 0
      if (defect != 0) bad += 1
      sb.append(id).append(',').append(name).append(',').append(cat).append(',')
      defect match {
        case 1 => sb.append("n/a").append(',').append(ts)
        case 2 => amount(sb, cents).append(',').append("2024-13-45T99:61:00")
        case 3 => amount(sb, cents)
        case _ => amount(sb, cents).append(',').append(ts)
      }
      sb.append('\n')
    }
    Drop(index, large, firstId, rows, bad, sb.toString.getBytes(UTF_8))
  }

  /** `cents` as a decimal with two places, as `%.2f` of `cents / 100.0`
    * prints it, without the formatter's cost. */
  private def amount(sb: java.lang.StringBuilder, cents: Int): java.lang.StringBuilder = {
    val c = cents % 100
    sb.append(cents / 100).append('.').append(if (c < 10) "0" else "").append(c)
  }
}
