package graft.xmlbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Seeded input corpora. Every row is drawn from a random stream keyed by
 * (seed, table, row key), so one seed always yields identical inputs; the
 * seed also drives row order in the XML files and how many items each
 * order nests.
 *
 * Rows are generated in this process and the XML is rendered here, by hand,
 * not by the engine's writer: the read workloads must not depend on the
 * write path they would otherwise share a bug with. Each corpus directory
 * also holds the same tables as parquet, the source every XML result is
 * compared against.
 *
 * A corpus is built into a private temporary directory and published by
 * one atomic rename, so a reader never sees a half-written corpus and two
 * processes building the same key cannot interleave their files.
 */
object Corpus {

  /** Rows per table. Orders nest 1-7 items, 4 on average. */
  final case class Scale(orders: Int, suppliers: Int, customers: Int, docs: Int)

  val scales: Map[String, Scale] = Map(
    "ingest" -> Scale(orders = 6500, suppliers = 500, customers = 650, docs = 0),
    "query" -> Scale(orders = 10000, suppliers = 500, customers = 1000, docs = 0),
    "export" -> Scale(orders = 4500, suppliers = 500, customers = 450, docs = 0),
    "pipeline" -> Scale(orders = 0, suppliers = 0, customers = 0, docs = 400))

  val shipModes = Seq("AIR", "REG AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")
  // Comment vocabulary; "R&D" and "<none>" exercise entity escaping.
  private val commentWords = Vector("carefully", "final", "deposits", "sleep", "quickly",
    "regular", "ideas", "haggle", "furiously", "pending", "accounts", "boost", "blithely",
    "express", "packages", "wake", "slyly", "even", "requests", "R&D", "<none>", "bold",
    "silent", "theodolites", "nag", "fluffily", "special", "pinto", "beans", "across")
  private val docWords: Vector[String] = Vector.tabulate(240)(i => f"w$i%03d")
  private val epoch = LocalDate.of(1992, 1, 1)

  /** The random stream of one row of one table. */
  private def rng(seed: Long, table: Int, key: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + table * 0xBF58476D1CE4E5B9L + key)
  private def oneOf[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def money(r: SplittableRandom, cents: Long, base: Double): Double =
    r.nextLong(cents) / 100.0 + base
  private def words(r: SplittableRandom, vocab: Vector[String], min: Int, spread: Int): String =
    Seq.fill(min + r.nextInt(spread))(oneOf(r, vocab)).mkString(" ")

  val ordersSchema: StructType = new StructType()
    .add("o_orderkey", LongType).add("o_custkey", LongType).add("o_orderstatus", StringType)
    .add("o_totalprice", DoubleType).add("o_orderdate", DateType)
    .add("o_orderpriority", StringType).add("o_clerk", StringType).add("o_comment", StringType)
  val lineitemSchema: StructType = new StructType()
    .add("l_orderkey", LongType).add("l_partkey", LongType).add("l_suppkey", LongType)
    .add("l_linenumber", IntegerType).add("l_quantity", DoubleType)
    .add("l_extendedprice", DoubleType).add("l_discount", DoubleType).add("l_tax", DoubleType)
    .add("l_returnflag", StringType).add("l_linestatus", StringType)
    .add("l_shipdate", DateType).add("l_shipmode", StringType).add("l_comment", StringType)
  /** Orders with their lineitems nested as `item`, in line-number order;
   *  keys are attributes (`_`-prefixed columns, the reader's default). */
  val nestedSchema: StructType = {
    def attr(f: StructField, keys: Set[String]) =
      if (keys(f.name)) f.copy(name = "_" + f.name) else f
    val item = StructType(lineitemSchema.fields.drop(1)
      .map(attr(_, Set("l_partkey", "l_suppkey", "l_linenumber")))
      .sortBy(f => if (f.name.startsWith("_")) 0 else 1))
    StructType(ordersSchema.fields.map(attr(_, Set("o_orderkey", "o_custkey"))))
      .add("item", ArrayType(item))
  }

  /** (orders, lineitem) rows; each order's lineitems follow their order. */
  private def ordersAndItems(seed: Long, sc: Scale): (Seq[Row], Seq[Seq[Row]]) =
    (1L to sc.orders.toLong).map { k =>
      val r = rng(seed, 1, k)
      val date = epoch.plusDays(r.nextInt(2400).toLong)
      val order = Row(k, r.nextInt(sc.customers) + 1L, oneOf(r, Seq("F", "O", "P")),
        money(r, 50000000L, 900.0), date, oneOf(r, priorities),
        f"Clerk#${r.nextInt(1000) + 1}%09d", words(r, commentWords, 3, 8))
      val items = (1 to r.nextInt(7) + 1).map { ln =>
        val q = rng(seed, 2, k * 8 + ln)
        Row(k, q.nextInt(20000) + 1L, q.nextInt(sc.suppliers) + 1L, ln,
          (q.nextInt(50) + 1).toDouble, money(q, 10000000L, 900.0), q.nextInt(11) / 100.0,
          q.nextInt(9) / 100.0, oneOf(q, Seq("R", "A", "N")), oneOf(q, Seq("O", "F")),
          date.plusDays(q.nextInt(121) + 1L), oneOf(q, shipModes), words(q, commentWords, 2, 6))
      }
      (order, items)
    }.unzip

  private def nested(order: Row, items: Seq[Row]): Row = Row.fromSeq(order.toSeq :+ items.map { i =>
    Row.fromSeq(i.toSeq.slice(1, 13))
  })

  private val supplierSchema = new StructType().add("s_suppkey", LongType)
    .add("s_name", StringType).add("s_nationkey", IntegerType).add("s_acctbal", DoubleType)
  private def suppliers(seed: Long, sc: Scale): Seq[Row] = (1L to sc.suppliers.toLong).map { k =>
    val r = rng(seed, 3, k)
    Row(k, f"Supplier#$k%09d", r.nextInt(25), money(r, 1100000L, -999.99))
  }
  private val nationSchema = new StructType().add("n_nationkey", IntegerType)
    .add("n_name", StringType).add("n_regionkey", IntegerType)
  private val nationRows = nations.zipWithIndex.map { case (n, i) => Row(i, n, i % 5) }

  /** Documents for the pipeline workload's link graph. */
  private val documentSchema = new StructType().add("doc_id", LongType).add("text", StringType)
    .add("lang", StringType).add("source", StringType).add("n_chars", LongType)
  private def documents(seed: Long, sc: Scale): Seq[Row] = (0L until sc.docs.toLong).map { k =>
    val r = rng(seed, 5, k)
    val t = words(r, docWords, 12, 60)
    Row(k, t, oneOf(r, Seq("en", "en", "de", "fr", "es", "zh")), s"src${r.nextInt(20)}",
      t.length.toLong)
  }

  // ---- XML rendering (pretty-printed, two-space indent) ----

  private def escape(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case c => sb.append(c)
      }
      i += 1
    }
  }

  /** Appends one element: `_`-prefixed fields become attributes of the
   *  start tag, scalars child elements, arrays of structs repeated
   *  children named after the field. Null fields are omitted. */
  private def element(sb: java.lang.StringBuilder, tag: String, schema: StructType, r: Row,
      indent: String): Unit = {
    sb.append(indent).append('<').append(tag)
    schema.fields.indices.filter(i => schema(i).name.startsWith("_") && !r.isNullAt(i)).foreach { i =>
      sb.append(' ').append(schema(i).name.substring(1)).append("=\"").append(r.get(i)).append('"')
    }
    sb.append(">\n")
    schema.fields.indices.filter(i => !schema(i).name.startsWith("_") && !r.isNullAt(i)).foreach { i =>
      schema(i).dataType match {
        case ArrayType(s: StructType, _) =>
          r.getSeq[Row](i).foreach(element(sb, schema(i).name, s, _, indent + "  "))
        case _ =>
          sb.append(indent).append("  <").append(schema(i).name).append('>')
          escape(sb, r.get(i).toString)
          sb.append("</").append(schema(i).name).append(">\n")
      }
    }
    sb.append(indent).append("</").append(tag).append(">\n")
  }

  /** Writes `rows` in a seeded order as `parts` complete XML documents. */
  private def writeXml(rows: Seq[Row], schema: StructType, rowTag: String, seed: Long,
      parts: Int, dir: File): Unit = {
    val shuffled = new java.util.ArrayList[Row](rows.asJava)
    java.util.Collections.shuffle(shuffled, new java.util.Random(seed))
    dir.mkdirs()
    val per = (shuffled.size + parts - 1) / parts
    shuffled.asScala.grouped(math.max(1, per)).zipWithIndex.foreach { case (chunk, p) =>
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, f"part-$p%05d.xml")), StandardCharsets.UTF_8))
      try {
        w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<rows>\n")
        val sb = new java.lang.StringBuilder(4096)
        chunk.foreach { r => sb.setLength(0); element(sb, rowTag, schema, r, "  "); w.append(sb) }
        w.write("</rows>\n")
      } finally w.close()
    }
  }

  /** Builds the corpus for `workload` and `seed` into `dir` unless it
   *  exists. */
  def ensure(spark: SparkSession, dir: File, workload: String, seed: Long): Unit =
    if (!dir.isDirectory) publish(dir)(build(spark, workload, seed, _))

  /** Fills a private temporary directory next to `dir` and publishes it as
   *  `dir` by one atomic rename, so `dir` either does not exist or is
   *  complete. If another process published `dir` first, its copy stays. */
  def publish(dir: File)(fill: File => Unit): Unit = {
    dir.getParentFile.mkdirs()
    val tmp = Files.createTempDirectory(dir.getParentFile.toPath, s".${dir.getName}-").toFile
    try {
      fill(tmp)
      Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException => ()
    } finally if (tmp.exists()) deleteTree(tmp)
  }

  private def build(spark: SparkSession, workload: String, seed: Long, out: File): Unit = {
    val sc = scales(workload)
    // Two files per core: a core that stalls (a busy host steals CPU) then
    // delays one small task, not a quarter of every scan.
    val parts = 2 * spark.sparkContext.defaultParallelism
    def parquet(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
        .write.parquet(new File(out, s"$name.parquet").getPath)
    def both(rows: Seq[Row], schema: StructType, name: String, rowTag: String): Unit = {
      parquet(rows, schema, name)
      writeXml(rows, schema, rowTag, seed, parts, new File(out, s"$name.xml"))
    }
    lazy val (ord, items) = ordersAndItems(seed, sc)
    lazy val nestedRows = ord.zip(items).map { case (o, is) => nested(o, is) }
    workload match {
      case "ingest" => both(nestedRows, nestedSchema, "orders_nested", "order")
      case "query" =>
        both(items.flatten, lineitemSchema, "lineitem", "lineitem")
        both(ord, ordersSchema, "orders", "orders")
        both(suppliers(seed, sc), supplierSchema, "supplier", "supplier")
        both(nationRows, nationSchema, "nation", "nation")
      case "export" =>
        parquet(items.flatten, lineitemSchema, "lineitem")
        parquet(nestedRows, nestedSchema, "orders_nested")
      case "pipeline" => parquet(documents(seed, sc), documentSchema, "documents")
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) {
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    }
    f.delete()
  }

  /** Bytes of data files under `dir` (hidden and `_` files excluded, as the
   *  Hadoop input formats exclude them). */
  def dataBytes(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(dataBytes).sum
    else dir.length()
}
