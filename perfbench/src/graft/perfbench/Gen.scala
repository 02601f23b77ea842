package graft.perfbench

import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of its seed:
  * the same seed gives the same rows (and `digest` the same bytes), a
  * different seed gives different values at the same row counts. */
object Gen {

  final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  private def r2(x: Double): Double = math.round(x * 100) / 100.0
  private def epochDay(y: Int, m: Int, d: Int): Long = LocalDate.of(y, m, d).toEpochDay
  private def day(epochDay: Long): LocalDateTime = LocalDate.ofEpochDay(epochDay).atStartOfDay()

  /** Canonical text rendering of tables (one line per row, tab-separated
    * fields); `digest` hashes it. */
  def render(tables: Seq[Table]): Array[Byte] = {
    val sb = new StringBuilder
    def cell(v: Any): String = v match {
      case null => "\\N"
      case s: Seq[_] => s.mkString(",")
      case x => x.toString
    }
    tables.foreach { t =>
      sb.append("## ").append(t.name).append('\n')
      t.rows.foreach(r => sb.append(r.toSeq.map(cell).mkString("\t")).append('\n'))
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  def digest(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Write each table as `dir/<name>.parquet`, one file per table.
    * Timestamps are TIMESTAMP_NTZ, which parquet stores as microsecond
    * timestamps not adjusted to UTC — the type of the reference test data. */
  def write(spark: SparkSession, dir: String, tables: Seq[Table]): Unit =
    tables.foreach { t =>
      spark.createDataFrame(java.util.Arrays.asList(t.rows: _*), t.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/${t.name}.parquet")
    }

  private def f(n: String, t: DataType) = StructField(n, t)

  // ——— TPC-H-shaped star schema ———

  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val PartAdj = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  val PartNoun = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")

  /** The star tables the report queries read, at `orders` orders (one to
    * seven line items each, four on average, so row counts depend on
    * `orders` alone); column names, types and value domains follow the
    * reference test data. */
  def star(seed: Long, orders: Int): Seq[Table] = {
    val customers = orders / 10
    val suppliers = math.max(10, orders / 150)
    val parts = orders * 2 / 15
    val region = Table("region",
      StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    val nation = Table("nation",
      StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val rc = rng(seed, 1)
    val customer = Table("customer",
      StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))),
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        r2(rc.nextDouble(-999.99, 9999.99)), Segments(rc.nextInt(Segments.size)))))
    val rs = rng(seed, 2)
    val supplier = Table("supplier",
      StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        r2(rs.nextDouble(-999.99, 9999.99)))))
    val rp = rng(seed, 3)
    val part = Table("part",
      StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
      (0 until parts).map(i => Row(i.toLong,
        s"${PartAdj(rp.nextInt(PartAdj.size))} ${PartNoun(rp.nextInt(PartNoun.size))}",
        s"Brand#${1 + rp.nextInt(25)}", PartTypes(rp.nextInt(PartTypes.size)),
        1 + rp.nextInt(50), r2(900 + (i % 1000) / 10.0))))
    val ro = rng(seed, 4)
    val orderLo = epochDay(1995, 1, 1)
    val orderDays = (epochDay(2001, 8, 1) - orderLo).toInt + 1
    val shipLo = epochDay(1995, 1, 2)
    val shipDays = (epochDay(2001, 11, 4) - shipLo).toInt + 1
    val ord = IndexedSeq.newBuilder[Row]
    val li = IndexedSeq.newBuilder[Row]
    var o = 0
    while (o < orders) {
      ord += Row(o.toLong, ro.nextInt(customers).toLong, Seq("F", "O", "P")(ro.nextInt(3)),
        r2(ro.nextDouble(1000, 500000)),
        day(orderLo + ro.nextInt(orderDays)),
        Priorities(ro.nextInt(Priorities.size)))
      val lines = 1 + o % 7
      var l = 1
      while (l <= lines) {
        li += Row(o.toLong, ro.nextInt(parts).toLong, ro.nextInt(suppliers).toLong, l,
          (1 + ro.nextInt(50)).toDouble, r2(ro.nextDouble(900, 105000)),
          ro.nextInt(11) / 100.0, ro.nextInt(9) / 100.0,
          Seq("A", "N", "R")(ro.nextInt(3)), Seq("F", "O")(ro.nextInt(2)),
          day(shipLo + ro.nextInt(shipDays)))
        l += 1
      }
      o += 1
    }
    val orderT = Table("orders",
      StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      ord.result())
    val lineT = Table("lineitem",
      StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
      li.result())
    Seq(region, nation, customer, supplier, part, orderT, lineT)
  }

  // ——— LLM corpus: documents + embeddings ———

  val Vocab: IndexedSeq[String] = ("a agg batch big column customer data fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark stream " +
    "table the value vector window").split(' ').toIndexedSeq
  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.41, "fr" -> 0.1475, "zh" -> 0.1475, "de" -> 0.1475, "es" -> 0.1475)
  val Dim = 64

  /** Distinct ids drawn from [0, space): every `keep` id plus a seeded
    * sample up to `n` ids, ascending. */
  private def sampleIds(r: SplittableRandom, space: Int, n: Int, keep: Seq[Int]): IndexedSeq[Long] = {
    val s = scala.collection.mutable.LinkedHashSet[Int](keep: _*)
    while (s.size < n) s += r.nextInt(space)
    s.toIndexedSeq.sorted.map(_.toLong)
  }

  /** A sample of an sf0.1-shaped corpus: `docs` documents drawn from doc ids
    * [0, 5000) that always keeps ids 0–7 (the hybrid query docs) and every
    * `doc_id % 97 == 0` benchmark doc, and `vecs` embeddings drawn from vec
    * ids [0, 2000) that always keeps the query set `vec_id < 8`. Texts are
    * 10–100 words over the reference vocabulary (about 5% carry the "dup"
    * marker, 0.2% repeat an earlier text verbatim); embeddings are unit
    * vectors around ten label centroids. */
  def corpus(seed: Long, docs: Int, vecs: Int): Seq[Table] = {
    val rd = rng(seed, 11)
    val docIds = sampleIds(rd, 5000, docs, (0 until 8) ++ (0 until 5000 by 97))
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val docRows = docIds.map { id =>
      val text =
        if (texts.nonEmpty && rd.nextInt(500) == 0) texts(rd.nextInt(texts.size))
        else {
          val n = 10 + rd.nextInt(91)
          val w = (0 until n).map(_ => Vocab(rd.nextInt(Vocab.size))).mkString(" ")
          if (rd.nextInt(20) == 0) w + " dup" else w
        }
      texts += text
      val u = rd.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
        .tail.find(_._2 > u).map(_._1).getOrElse("en")
      Row(id, text, lang, s"src${id % 20}", text.length.toLong)
    }
    val re = rng(seed, 12)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = (0 until 10).map(_ => unit(Array.fill(Dim)(re.nextDouble(-1, 1))))
    val vecIds = sampleIds(re, 2000, vecs, 0 until 8)
    val vecRows = vecIds.map { id =>
      val label = re.nextInt(10)
      val c = centers(label)
      val v = unit(Array.tabulate(Dim)(j => c(j) + 0.12 * (re.nextDouble(-1, 1) + re.nextDouble(-1, 1))))
      Row(id, v.map(_.toFloat).toSeq, label)
    }
    Seq(
      Table("documents",
        StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
          f("source", StringType), f("n_chars", LongType))),
        docRows),
      Table("embeddings",
        StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType)),
          f("label", IntegerType))),
        vecRows))
  }
}
