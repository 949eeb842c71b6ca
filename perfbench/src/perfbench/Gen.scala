package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A generated table: column names and types plus its rows (driver-side,
  * so requests can be cut from it and checks can compute expectations).
  */
final case class Tab(name: String, cols: Seq[(String, DataType)], rows: IndexedSeq[Array[Any]]) {
  def colNames: Seq[String] = cols.map(_._1)
  def idx(c: String): Int = colNames.indexOf(c)
  def schema: StructType = StructType(cols.map { case (n, t) => StructField(n, t) })
  def df(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows.map(r => Row.fromSeq(r.toSeq)), 1), schema)
  def select(cs: Seq[String]): Tab = {
    val ix = cs.map(idx)
    Tab(name, ix.map(cols), rows.map(r => ix.map(r).toArray))
  }
  def slice(from: Int, until: Int): Tab = copy(rows = rows.slice(from, until))
  /** Exact bytes of the values: 4 per int, 8 per long/double, UTF-8 length per string. */
  def userBytes: Long = rows.iterator.map(r => r.iterator.map(Gen.valueBytes).sum).sum
}

/** The one seeded input generator of every workload. It synthesizes
  * TPC-H-shaped tables (nation, customer, orders and their join) and a
  * text corpus from `seed` alone, scaled by `scale`
  * (1.0 = the committed size; the self-test uses 0.01). The same seed
  * gives the same inputs; nothing is read from outside the checkout.
  *
  * Values are rendered so every graft reader sees the same text: money is
  * a double whose `toString` is what Spark's double-to-string cast gives
  * (below 10^6), and no date, empty or null value is generated, so csv
  * schema inference and the all-string merged ingest agree cell for cell.
  */
final class Gen(seed: Long, scale: Double) {
  val rnd = new scala.util.Random(seed)
  private def n(base: Int) = math.max(8, (base * scale).round.toInt)

  val segments = Seq("automobile", "building", "furniture", "household", "machinery")
  val priorities = Seq("1-urgent", "2-high", "3-medium", "4-not specified", "5-low")
  val nations = Seq("algeria", "argentina", "brazil", "canada", "egypt", "ethiopia", "france",
    "germany", "india", "indonesia", "iran", "iraq", "japan", "jordan", "kenya", "morocco",
    "mozambique", "peru", "china", "romania", "saudi arabia", "vietnam", "russia",
    "united kingdom", "united states")
  /** Word list for comments, names and documents; disjoint from the
    * segment and nation vocabularies so MATE's string query columns never
    * collide with another column's token.
    */
  val words: IndexedSeq[String] = {
    val syll = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "pe", "do", "fu", "gi", "ha",
      "je", "qu", "wo", "xe", "zy", "bra", "tre", "clo", "spi", "gra", "ple")
    val r = new scala.util.Random(7)
    (0 until 3000).map(_ => (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.size))).mkString)
      .distinct
  }
  def word(): String = words(rnd.nextInt(words.size))
  def phrase(k: Int): String = (0 until k).map(_ => word()).mkString(" ")
  def money(lo: Int, hi: Int): Double = (lo * 100 + rnd.nextInt((hi - lo) * 100)) / 100.0

  lazy val nation: Tab = Tab("nation", Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
    "n_regionkey" -> IntegerType, "n_comment" -> StringType),
    nations.zipWithIndex.map { case (nm, i) => Array[Any](i, nm, i % 5, phrase(5)) }.toIndexedSeq)

  lazy val customer: Tab = Tab("customer", Seq("c_custkey" -> IntegerType, "c_name" -> StringType,
    "c_address" -> StringType, "c_nationkey" -> IntegerType, "c_phone" -> StringType,
    "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    (1 to n(1500)).map { k =>
      val nk = rnd.nextInt(25)
      Array[Any](k, f"customer#$k%09d", word() + " " + word(), nk,
        f"${10 + nk}-${100 + rnd.nextInt(900)}-${100 + rnd.nextInt(900)}-${1000 + rnd.nextInt(9000)}",
        money(-999, 9999), segments(rnd.nextInt(5)))
    })

  lazy val orders: Tab = Tab("orders", Seq("o_orderkey" -> IntegerType, "o_custkey" -> IntegerType,
    "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
    "o_orderpriority" -> StringType, "o_clerk" -> StringType),
    (1 to n(6000)).map(k => Array[Any](k * 4, 1 + rnd.nextInt(customer.rows.size),
      Seq("f", "o", "p")(rnd.nextInt(3)), money(1000, 400000), priorities(rnd.nextInt(5)),
      f"clerk#${1 + rnd.nextInt(1000)}%09d")))

  /** customer ⋈ nation, denormalized. */
  lazy val custNation: Tab = Tab("cust_nation", Seq("c_custkey" -> IntegerType,
    "c_name" -> StringType, "c_nationkey" -> IntegerType, "n_name" -> StringType,
    "n_regionkey" -> IntegerType, "c_mktsegment" -> StringType),
    customer.rows.map { c =>
      val nk = c(3).asInstanceOf[Int]
      Array[Any](c(0), c(1), nk, nations(nk), nk % 5, c(6))
    })

  /** A text document of `k` words with sentence lines and stopwords, so it
    * passes the Gopher rules unless deliberately damaged.
    */
  def document(k: Int): String = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    (0 until k).grouped(12).map(_.map(i =>
      if (i % 4 == 1) stops(rnd.nextInt(stops.size)) else word()).mkString(" ") + ".")
      .mkString("\n")
  }
}

object Gen {
  def valueBytes(v: Any): Long = v match {
    case _: Int    => 4L
    case _: Long   => 8L
    case _: Double => 8L
    case s: String => s.getBytes(UTF_8).length.toLong
    case null      => 0L
    case other     => other.toString.getBytes(UTF_8).length.toLong
  }

  private def text(v: Any): String = v.toString

  /** Writes `t` as ONE file `path` in the format its extension names:
    * csv/tsv with a header, line-delimited json with every value a
    * string, or parquet (through Spark, then moved to `path`).
    */
  def writeFile(s: SparkSession, t: Tab, path: Path): Unit = {
    val name = path.getFileName.toString
    name.split('.').last match {
      case ext @ ("csv" | "tsv") =>
        val d = if (ext == "csv") "," else "\t"
        val sb = new StringBuilder(t.colNames.mkString(d)).append('\n')
        t.rows.foreach(r => sb.append(r.map(text).mkString(d)).append('\n'))
        Files.write(path, sb.toString.getBytes(UTF_8))
      case "json" =>
        val sb = new StringBuilder
        t.rows.foreach { r =>
          sb.append(t.colNames.zip(r).map { case (c, v) => s""""$c":"${text(v)}"""" }
            .mkString("{", ",", "}\n"))
        }
        Files.write(path, sb.toString.getBytes(UTF_8))
      case "parquet" =>
        val tmp = path.resolveSibling("." + name + ".dir")
        t.df(s).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.move(part, path)
        deleteTree(tmp)
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally all.close()
  }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val all = Files.walk(p)
    try {
      var b = 0L
      all.filter(f => Files.isRegularFile(f)).forEach(f => b += Files.size(f))
      b
    } finally all.close()
  }

  def dirFiles(p: Path, suffix: String): Long = if (!Files.exists(p)) 0L else {
    val all = Files.walk(p)
    try all.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix)).count()
    finally all.close()
  }
}
