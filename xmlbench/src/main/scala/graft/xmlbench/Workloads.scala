package graft.xmlbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.xml.{InferSchema, StaxXmlParser, XmlFile, XmlOptions, XmlRelation}

/** What one operation returns: its result digest plus the XML bytes and
 *  rows it read or wrote (for the throughput and amplification metrics). */
final case class Outcome(value: Any, xmlBytes: Long, var xmlRows: Long)

/** One timed operation. `run` is the timed call; `check` runs untimed
 *  after it and throws [[Mismatch]] when the result is wrong. */
final case class Op(name: String, run: Tracer => Outcome, check: Outcome => Unit)

final class Mismatch(msg: String) extends RuntimeException(msg)

/** Per-run state shared by every session of the run. `refs` holds the
 *  verified expected results and `refDir` their files; both are computed
 *  once per corpus and build. `corpusSeed` drives the inputs (data and
 *  predicate literals), `seed` the operation order. */
final class Env(val corpus: File, val refDir: File, val out: File, val seed: Long,
    val corpusSeed: Long, val cores: Int) {
  val refs: mutable.Map[String, Any] = mutable.Map.empty
  val rng = new Random(seed)
}

trait Workload {
  def name: String
  def why: String
  /** Names of the operations [[ops]] returns, known without a session. */
  def opNames: Seq[String]
  /** Untimed: expected results from the parquet source into `env.refs`
   *  (and files into `env.refDir`), once per corpus and build. */
  def prepare(spark: SparkSession, env: Env): Unit = ()
  /** Registers the inputs in a fresh session and returns the operations. */
  def ops(spark: SparkSession, env: Env): Seq[Op]
  /** Traced passes only: direct calls into single layers. Returns counts. */
  def probes(spark: SparkSession, env: Env, t: Tracer): Map[String, Double] = Map.empty
}

object Digest {
  /** Order-independent digest of a DataFrame: row count, a sum and an xor
   *  of per-row 64-bit hashes. */
  def of(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(shiftright(col("h"), 24)), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Order-independent digest of collected rows. */
  def of(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.map(r => scala.util.hashing.MurmurHash3.seqHash(r.toSeq).toLong).sum)

  def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new Mismatch(s"$what: got $got, expected $want")

  /** Each leaf of `dt` by path with its type class. An inferred schema must
   *  have the source's fields and, leaf by leaf, its class: inference may
   *  pick another width (int or long, date or timestamp), not another kind. */
  def shape(dt: DataType, path: String = ""): Seq[String] = dt match {
    case s: StructType => s.fields.toSeq.flatMap(f => shape(f.dataType, s"$path/${f.name}")).sorted
    case ArrayType(e, _) => shape(e, path + "[]")
    case ByteType | ShortType | IntegerType | LongType => Seq(s"$path integral")
    case FloatType | DoubleType | _: DecimalType => Seq(s"$path fractional")
    case DateType | TimestampType | TimestampNTZType => Seq(s"$path date")
    case other => Seq(s"$path ${other.typeName}")
  }

  /** Casts `c` (of type `src`) to `dst`, matching struct fields by name at
   *  every depth, so an inferred schema compares against the source one. */
  def conform(c: Column, src: DataType, dst: DataType): Column = (src, dst) match {
    case (s: StructType, d: StructType) =>
      struct(d.fields.map(f => conform(c.getField(f.name), s(f.name).dataType, f.dataType)
        .as(f.name)).toIndexedSeq: _*)
    case (ArrayType(se, _), ArrayType(de, _)) => transform(c, x => conform(x, se, de))
    case _ if src == dst => c
    case _ => c.cast(dst)
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(Ingest, Query, Export, Pipeline)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  private[xmlbench] def xmlReader(spark: SparkSession, rowTag: String) =
    spark.read.format("graft.xml").option("rowTag", rowTag)

  private[xmlbench] def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Plan and execute a query whose result is small, as separate spans. */
  private[xmlbench] def collect(t: Tracer, df: DataFrame): Array[Row] = {
    t.span("plan")(df.queryExecution.executedPlan)
    t.span("exec")(df.collect())
  }

  /** Extraction probe shared by the read workloads: times record
   *  extraction alone, then caches the records for the parse probes. */
  private[xmlbench] def extractProbe(spark: SparkSession, t: Tracer, path: File,
      opts: XmlOptions): (org.apache.spark.rdd.RDD[String], Map[String, Double]) = {
    val sc = spark.sparkContext
    val probe = XmlFile.read(sc, path.getPath, opts)
    val records = t.span("extract")(probe.count())
    val cached = XmlFile.read(sc, path.getPath, opts).persist(StorageLevel.MEMORY_ONLY)
    cached.count()
    (cached, Map("extract.records" -> records.toDouble,
      "extract.bytes" -> Corpus.dataBytes(path).toDouble,
      "extract.splits" -> probe.getNumPartitions.toDouble))
  }
}

/** Cold-schema reads of nested orders: extraction, inference, full parse. */
object Ingest extends Workload {
  val name = "ingest"
  val why = "cold-schema reads of nested XML: extraction, inference and full parse do " +
    "nearly all the work and nothing shuffles"
  val opNames = Seq("infer_parse", "user_parse")
  private def xml(env: Env) = new File(env.corpus, "orders_nested.xml")
  private def source(spark: SparkSession, env: Env) =
    spark.read.parquet(new File(env.corpus, "orders_nested.parquet").getPath)

  override def prepare(spark: SparkSession, env: Env): Unit = {
    val src = source(spark, env)
    env.refs("ingest.digest") = (Digest.shape(src.schema), Digest.of(src))
    env.refs("ingest.bytes") = Corpus.dataBytes(xml(env))
  }

  def ops(spark: SparkSession, env: Env): Seq[Op] = {
    val schema = source(spark, env).schema
    val path = xml(env).getPath
    val bytes = env.refs("ingest.bytes").asInstanceOf[Long]
    def check(o: Outcome): Unit =
      Digest.expect("orders (schema shape, digest)", o.value, env.refs("ingest.digest"))
    def outcome(t: Tracer, df: DataFrame, reads: Int): Outcome = {
      val conformed = df.select(Digest.conform(struct(df.columns.map(c => col(s"`$c`")): _*),
        df.schema, schema).as("r")).select("r.*")
      t.span("plan")(conformed.queryExecution.executedPlan)
      val d = t.span("exec")(Digest.of(conformed))
      Outcome((Digest.shape(df.schema), d), reads * bytes, d._1)
    }
    Seq(
      Op("infer_parse", t => {
        val df = t.span("load")(
          Workloads.xmlReader(spark, "order").option("samplingRatio", "1.0").load(path))
        outcome(t, df, reads = 2)
      }, check),
      Op("user_parse", t => outcome(t, Workloads.xmlReader(spark, "order").schema(schema)
        .load(path), reads = 1), check))
  }

  override def probes(spark: SparkSession, env: Env, t: Tracer): Map[String, Double] = {
    val opts = XmlOptions(Map("rowTag" -> "order", "samplingRatio" -> "1.0", "timezone" -> "UTC"))
    val (records, counts) = Workloads.extractProbe(spark, t, xml(env), opts)
    try {
      val consumed = spark.sparkContext.longAccumulator("infer.records")
      t.span("infer")(InferSchema.infer(records.map { r => consumed.add(1); r }, opts))
      val schema = source(spark, env).schema.add(opts.columnNameOfCorruptRecord, StringType)
      val bad = schema.fieldIndex(opts.columnNameOfCorruptRecord)
      val (rows, malformed) = t.span("parse.full")(StaxXmlParser.parse(records, schema, opts)
        .aggregate((0L, 0L))((a, r) => (a._1 + 1, a._2 + (if (r.isNullAt(bad)) 0 else 1)),
          (a, b) => (a._1 + b._1, a._2 + b._2)))
      counts ++ Map("infer.records" -> consumed.sum.toDouble, "parse.rows" -> rows.toDouble,
        "parse.malformed_rows" -> malformed.toDouble)
    } finally records.unpersist()
  }
}

/** Analytic queries over flat XML tables read with user schemas. */
object Query extends Workload {
  val name = "query"
  val why = "analytic queries over flat XML with user schemas: extraction stays full, " +
    "pruning and the raw pre-test decide parse cost, Catalyst shuffles dominate"
  val opNames = Seq("filter_agg", "join_agg", "top2_window", "point_lookup")
  private val tables = Seq("lineitem", "orders", "supplier", "nation")

  /** Seed-drawn predicate literals, fixed for the run. */
  private final case class Literals(mode: String, from: LocalDate, to: LocalDate, year: Int,
      priority: String, clerk: String)
  private def literals(env: Env): Literals = env.refs.getOrElseUpdate("query.literals", {
    val r = new Random(env.corpusSeed * 31 + 7)
    val from = LocalDate.of(1992, 1, 1).plusDays(r.nextInt(1800).toLong)
    // "AIR" is left out: its pre-test also keeps every "REG AIR" record,
    // doubling the parse work of that seed alone.
    val modes = Corpus.shipModes.filterNot(_ == "AIR")
    Literals(modes(r.nextInt(modes.size)), from, from.plusDays(365),
      1993 + r.nextInt(5), Corpus.priorities(r.nextInt(Corpus.priorities.size)),
      f"Clerk#${r.nextInt(1000) + 1}%09d")
  }).asInstanceOf[Literals]

  /** filter_agg's predicate; the pre-test probe pushes the same one. */
  private def shipped(l: Literals): Column =
    col("l_shipmode") === l.mode && col("l_shipdate").between(lit(l.from), lit(l.to))

  private def queries(l: Literals): Seq[(String, Seq[String], Map[String, DataFrame] => DataFrame)] = Seq(
    ("filter_agg", Seq("lineitem"), t => t("lineitem")
      .where(shipped(l))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(Workloads.dec2(col("l_extendedprice"))).as("gross"))),
    ("join_agg", tables, t => t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .where(year(col("o_orderdate")) === l.year)
      .join(t("supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t("nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"), sum(Workloads.dec2(col("l_extendedprice")) *
        (lit(1) - Workloads.dec2(col("l_discount")))).as("revenue"))),
    ("top2_window", Seq("orders"), t => t("orders")
      .where(col("o_orderpriority") === l.priority)
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .where(col("rk") <= 2)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")),
    ("point_lookup", Seq("orders"), t => t("orders")
      .where(col("o_clerk") === l.clerk)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")))

  private def parquet(spark: SparkSession, env: Env): Map[String, DataFrame] =
    tables.map(n => n -> spark.read.parquet(new File(env.corpus, s"$n.parquet").getPath)).toMap

  override def prepare(spark: SparkSession, env: Env): Unit = {
    val pq = parquet(spark, env)
    queries(literals(env)).foreach { case (op, _, q) =>
      env.refs(s"query.$op") = Digest.of(q(pq).collect())
    }
    tables.foreach { n =>
      env.refs(s"query.bytes.$n") = Corpus.dataBytes(new File(env.corpus, s"$n.xml"))
      env.refs(s"query.rows.$n") = pq(n).count()
    }
  }

  def ops(spark: SparkSession, env: Env): Seq[Op] = {
    val pq = parquet(spark, env)
    val xml = tables.map(n => n -> Workloads.xmlReader(spark, n).schema(pq(n).schema)
      .load(new File(env.corpus, s"$n.xml").getPath)).toMap
    queries(literals(env)).map { case (op, used, q) =>
      val bytes = used.map(n => env.refs(s"query.bytes.$n").asInstanceOf[Long]).sum
      val rows = used.map(n => env.refs(s"query.rows.$n").asInstanceOf[Long]).sum
      Op(op, t => Outcome(Digest.of(Workloads.collect(t, q(xml))), bytes, rows),
        o => Digest.expect(op, o.value, env.refs(s"query.$op")))
    }
  }

  override def probes(spark: SparkSession, env: Env, t: Tracer): Map[String, Double] = {
    val l = literals(env)
    val path = new File(env.corpus, "lineitem.xml")
    val opts = XmlOptions(Map("rowTag" -> "lineitem", "timezone" -> "UTC"))
    val (records, counts) = Workloads.extractProbe(spark, t, path, opts)
    try {
      val full = spark.read.parquet(new File(env.corpus, "lineitem.parquet").getPath).schema
      val cols = Array("l_returnflag", "l_extendedprice", "l_shipmode", "l_shipdate")
      val pruned = StructType(cols.map(full(_)))
      val rows = t.span("parse.pruned")(StaxXmlParser.parse(records, pruned, opts).count())
      // The raw pre-test: rows buildScan hands to Spark for the pushed
      // filters, against the rows Spark's own filter then keeps.
      val filters: Array[Filter] = Array(EqualTo("l_shipmode", l.mode),
        GreaterThanOrEqual("l_shipdate", l.from), LessThanOrEqual("l_shipdate", l.to))
      val relation = XmlRelation(path.getPath, Map("rowTag" -> "lineitem", "timezone" -> "UTC"),
        Some(full))(spark.sqlContext)
      val kept = t.span("pretest")(relation.buildScan(cols, filters).count())
      val passing = Workloads.xmlReader(spark, "lineitem").schema(full).load(path.getPath)
        .where(shipped(l)).count()
      counts ++ Map("parse.rows" -> rows.toDouble,
        "pretest.kept_ratio" -> kept.toDouble / math.max(1L, rows),
        "pretest.precision" -> passing.toDouble / math.max(1L, kept))
    } finally records.unpersist()
  }
}

/** The write side: parquet to XML files, and the to_xml/from_xml columns. */
object Export extends Workload {
  val name = "export"
  val why = "the write side: the generator and the column expressions do the work, with no " +
    "record extraction and no inference"
  private def src(spark: SparkSession, env: Env, n: String) =
    spark.read.parquet(new File(env.corpus, s"$n.parquet").getPath)
  private val writes = Seq(
    ("lineitem_pretty", "lineitem", "lineitem", false),
    ("lineitem_compact", "lineitem", "lineitem", true),
    ("orders_pretty", "orders_nested", "order", false),
    ("orders_compact", "orders_nested", "order", true))
  val opNames: Seq[String] = writes.map(_._1) ++ Seq("to_xml", "from_xml")
  private val xmlOpts = Map("rowTag" -> "order")

  override def prepare(spark: SparkSession, env: Env): Unit = {
    Seq("lineitem", "orders_nested").foreach(n => env.refs(s"export.src.$n") = Digest.of(src(spark, env, n)))
    // The to_xml reference: rendered once, proven by a from_xml round trip,
    // then every timed to_xml must reproduce it and every from_xml parses it.
    val orders = src(spark, env, "orders_nested")
    val strings = orders.select(graft.xml.to_xml(struct(orders.columns.map(col): _*), xmlOpts)
      .as("x"))
    strings.write.parquet(new File(env.refDir, "to_xml_ref.parquet").getPath)
    val ref = spark.read.parquet(new File(env.refDir, "to_xml_ref.parquet").getPath)
    Digest.expect("to_xml round trip", Digest.of(fromXml(ref, orders.schema)),
      env.refs("export.src.orders_nested"))
    env.refs("export.to_xml") = stringDigest(ref)
  }

  private def fromXml(strings: DataFrame, schema: StructType): DataFrame =
    strings.select(graft.xml.from_xml(col("x"), schema, xmlOpts).as("r")).select("r.*")

  private def stringDigest(strings: DataFrame): (Long, Long, Long, Long) = {
    val r = strings.select(xxhash64(col("x")).as("h"), length(col("x")).as("n"))
      .agg(count(lit(1)), sum(shiftright(col("h"), 24)), bit_xor(col("h")), sum(col("n"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** CRC of every data file under `dir`, in name order. */
  private def crc(dir: File): Long = {
    val c = new java.util.zip.CRC32
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .sortBy(_.getName).foreach(f => c.update(java.nio.file.Files.readAllBytes(f.toPath)))
    c.getValue
  }

  def ops(spark: SparkSession, env: Env): Seq[Op] = {
    val writeOps = writes.map { case (op, table, tag, compact) =>
      val df = src(spark, env, table)
      val rows = env.refs(s"export.src.$table").asInstanceOf[(Long, Long, Long)]._1
      val out = new File(env.out, op)
      Op(op, t => {
        t.span("write")(df.write.format("graft.xml").mode("overwrite").option("rowTag", tag)
          .option("rootTag", tag + "s").option("compactOutput", compact.toString).save(out.getPath))
        Outcome(crc(out), Corpus.dataBytes(out), rows)
      }, o => env.refs.get(s"export.$op") match {
        // The first write of a run is read back in full and must equal its
        // source; every later write must then be byte-identical to it.
        case None =>
          Digest.expect(s"$op read-back", Digest.of(Workloads.xmlReader(spark, tag)
            .schema(df.schema).load(out.getPath)), env.refs(s"export.src.$table"))
          env.refs(s"export.$op") = o.value
        case Some(want) => Digest.expect(s"$op bytes", o.value, want)
      })
    }
    val orders = src(spark, env, "orders_nested")
    val ref = spark.read.parquet(new File(env.refDir, "to_xml_ref.parquet").getPath)
    val refDigest = env.refs("export.to_xml").asInstanceOf[(Long, Long, Long, Long)]
    writeOps ++ Seq(
      Op("to_xml", t => {
        val strings = orders.select(graft.xml.to_xml(struct(orders.columns.map(col): _*), xmlOpts)
          .as("x"))
        t.span("plan")(strings.queryExecution.executedPlan)
        val d = t.span("exec")(stringDigest(strings))
        Outcome(d, d._4, d._1)
      }, o => Digest.expect("to_xml", o.value, refDigest)),
      Op("from_xml", t => {
        val parsed = fromXml(ref, orders.schema)
        t.span("plan")(parsed.queryExecution.executedPlan)
        val d = t.span("exec")(Digest.of(parsed))
        Outcome(d, refDigest._4, d._1)
      }, o => Digest.expect("from_xml", o.value, env.refs("export.src.orders_nested"))))
  }
}

/** An operator pipeline from the query suite, its result written as XML. */
object Pipeline extends Workload {
  val name = "pipeline"
  val why = "the only workload that runs a pipeline operator loop (PageRank): dozens of small " +
    "stages per pass, so it shows stage count times per-stage framework cost"
  val queries = Seq("q142_pagerank_redistribute")
  val opNames: Seq[String] = queries

  def ops(spark: SparkSession, env: Env): Seq[Op] = queries.map { q =>
    val out = new File(env.out, q)
    val fn = graft.SparkEntry.queries(q)
    Op(q, t => {
      val df = t.span("build")(fn(spark, env.corpus.getPath))
      t.span("write")(df.write.format("graft.xml").mode("overwrite").option("rowTag", "row")
        .option("compactOutput", "true").save(out.getPath))
      Outcome(df.schema, Corpus.dataBytes(out), 0L)
    }, o => {
      val back = Workloads.xmlReader(spark, "row").schema(o.value.asInstanceOf[StructType])
        .load(out.getPath)
      val d = Digest.of(back)
      o.xmlRows = d._1
      env.refs.get(s"pipeline.$q") match {
        // The first result is kept as parquet for the offline oracle check;
        // every later one must have the same digest.
        case None =>
          back.coalesce(1).write.parquet(new File(env.out, s"ref/$q").getPath)
          env.refs(s"pipeline.$q") = d
        case Some(want) => Digest.expect(q, d, want)
      }
    })
  }
}
