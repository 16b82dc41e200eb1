package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of the seed,
  * so the same seed writes byte-identical inputs, and nothing is read
  * from outside the benchmark's work directory.
  *
  * The ten query tables mirror the shapes of the synthetic tables the
  * queries were written against (TPC-H-like star schema, an events
  * log, a documents corpus with planted near duplicates, unit
  * embeddings); sizes are set by a scale factor `sf` on the same
  * per-table row counts (lineitem = 6M · sf).
  */
object Gen {

  /** Rows are assigned to files by this hash of (seed, id), never by a
    * repartition, so file contents do not depend on task scheduling.
    */
  def fileOf(seed: Long, id: Long, files: Int): Int =
    java.lang.Math.floorMod(mix(seed * 0x9E3779B97F4A7C15L + id), files.toLong).toInt

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rng(seed: Long, table: String): SplittableRandom =
    new SplittableRandom(mix(seed ^ table.hashCode.toLong))

  val vocab: Array[String] = ("a the data spark window merge table column vector stream " +
    "value small join filter big group hash customer sort order slow line " +
    "part fast row agg key query scan batch").split(" ")

  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  def randomText(r: SplittableRandom): String =
    Array.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")

  /** Writes `rows` as one parquet file and returns their md5. */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): String = {
    val jl = new java.util.ArrayList[Row](rows.size)
    rows.foreach(jl.add)
    spark.createDataFrame(jl, schema).coalesce(1).write.parquet(path)
    Digest.md5(rows.iterator.map(_.toString))
  }

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)
  private def round2(d: Double): Double = math.rint(d * 100) / 100

  /** Documents: random 10–100-token texts over a 30-word vocabulary; 5%
    * are another document's text plus " dup" (near duplicates) and
    * 0.2% repeat another document verbatim (exact duplicates).
    */
  def documents(seed: Long, n: Int): IndexedSeq[(Long, String, String, String)] = {
    val r = rng(seed, "documents")
    val base = Array.fill(n)(randomText(r))
    val text = base.clone()
    for (i <- 0 until n) {
      val u = r.nextDouble()
      if (n > 1 && u < 0.05) text(i) = base((i + 1 + r.nextInt(n - 1)) % n) + " dup"
      else if (n > 1 && u < 0.052) text(i) = base((i + 1 + r.nextInt(n - 1)) % n)
    }
    (0 until n).map(i => (i.toLong, text(i), langs(r.nextInt(langs.length)), s"src${i % 20}"))
  }

  val documentsSchema: StructType = StructType(Seq(f("doc_id", LongType),
    f("text", StringType), f("lang", StringType), f("source", StringType),
    f("n_chars", LongType)))

  def documentRow(d: (Long, String, String, String)): Row =
    Row(d._1, d._2, d._3, d._4, d._2.length.toLong)

  def embeddings(seed: Long, n: Int): IndexedSeq[(Long, Array[Float], Int)] = {
    val r = rng(seed, "embeddings")
    (0 until n).map { i =>
      val v = Array.fill(64)(gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  val embeddingsSchema: StructType = StructType(Seq(f("vec_id", LongType),
    f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType)))

  /** Writes those of the ten query tables named in `only` at scale `sf`
    * under `dir` as `<table>.parquet`, and returns their digests. `docReplicas` > 1 turns documents and embeddings
    * into that many replicas of the base tables: replica k shifts ids
    * by k·10⁸, renames every token with the suffix `_r<k>` (so replicas
    * are not near duplicates of each other) except every 50th document,
    * which repeats verbatim, and flips embedding signs by a seeded ±1
    * diagonal (norms and within-replica geometry are kept).
    */
  def tables(spark: SparkSession, seed: Long, sf: Double, dir: String,
      docReplicas: Int, only: Set[String]): Map[String, String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // Tables are generated and written concurrently; each has its own
    // random stream, so the contents do not depend on the interleaving.
    val pending = scala.collection.mutable.ArrayBuffer.empty[Future[(String, String)]]
    def write(rows: => Seq[Row], schema: StructType, path: String): Unit = {
      val name = path.split('/').last.stripSuffix(".parquet")
      if (only(name)) pending += Future(name -> Gen.write(spark, rows, schema, path))
    }
    def n(base: Double): Int = math.max(1, math.round(base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nUsers = n(15000); val nDocs = n(50000); val nEmb = n(20000)

    write(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (nm, i) => Row(i, nm) },
      StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      s"$dir/region.parquet")
    write((0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), s"$dir/nation.parquet")

    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rc = rng(seed, "customer")
    write((0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
        rc.nextInt(25), round2(rc.nextDouble(-999.99, 9999.99)),
        segments(rc.nextInt(5)))),
      StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))), s"$dir/customer.parquet")

    val rs = rng(seed, "supplier")
    write((0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rs.nextInt(25), round2(rs.nextDouble(-999.99, 9999.99)))),
      StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      s"$dir/supplier.parquet")

    val adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val rp = rng(seed, "part")
    write((0 until nPart).map(i => Row(i.toLong,
        s"${adjectives(rp.nextInt(8))} ${nouns(rp.nextInt(8))}",
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(6)), 1 + rp.nextInt(50),
        round2(900 + (i % 1000) * 0.1))),
      StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), s"$dir/part.parquet")

    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rng(seed, "orders")
    write((0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        "FOP".charAt(ro.nextInt(3)).toString, round2(ro.nextDouble(1000, 500000)),
        day0.plusDays(ro.nextInt(2404)), priorities(ro.nextInt(5)))),
      StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      s"$dir/orders.parquet")

    val rl = rng(seed, "lineitem")
    write((0 until nLine).map(_ => Row(rl.nextInt(nOrd).toLong,
        rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong, 1 + rl.nextInt(7),
        (1 + rl.nextInt(50)).toDouble, round2(rl.nextDouble(900, 105000)),
        rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
        "ANR".charAt(rl.nextInt(3)).toString, "FO".charAt(rl.nextInt(2)).toString,
        day0.plusDays(1 + rl.nextInt(2404)))),
      StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))), s"$dir/lineitem.parquet")

    val eventTypes = Array("click", "error", "purchase", "signup", "view")
    val re = rng(seed, "events")
    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 86400 * 1000000
    lazy val stamps = Array.fill(nEv)(re.nextLong(spanMicros)).sorted
    write((0 until nEv).map(i => Row(i.toLong,
        ev0.plusNanos(stamps(i) * 1000), re.nextInt(nUsers).toLong,
        eventTypes(re.nextInt(5)), round2(-50 * math.log(1 - re.nextDouble()) + 0.01),
        s"""{"k": ${re.nextInt(100)}}""")),
      StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), s"$dir/events.parquet")

    lazy val docs = documents(seed, nDocs)
    lazy val emb = embeddings(seed, nEmb)
    val tokenRe = "(\\S+)".r
    write((0 until docReplicas).flatMap { k =>
        docs.map { case (id, text, lang, src) =>
          val t = if (k == 0 || id % 50 == 0) text
            else tokenRe.replaceAllIn(text, m => m.group(1) + s"_r$k")
          documentRow((id + k * 100000000L, t, lang, src))
        }
      }, documentsSchema, s"$dir/documents.parquet")
    write((0 until docReplicas).flatMap { k =>
        val signs = Array.tabulate(64)(j =>
          if (k == 0 || (mix(seed + k * 64L + j) & 1L) == 0L) 1f else -1f)
        emb.map { case (id, v, label) =>
          val w = if (id % 50 == 0) v else Array.tabulate(64)(j => v(j) * signs(j))
          Row(id + k * 100000000L, w.toSeq, label)
        }
      }, embeddingsSchema, s"$dir/embeddings.parquet")
    pending.map(Await.result(_, scala.concurrent.duration.Duration.Inf)).toMap
  }
}
