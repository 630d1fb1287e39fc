package graft.xml

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class InferSchemaSuite extends AnyFunSuite {

  private val opts = XmlOptions()

  private def infer(record: String): DataType = InferSchema.inferRecord(record, opts)
  private def merge(a: DataType, b: DataType): DataType = InferSchema.compatibleType(opts)(a, b)

  test("leaf type inference ladder") {
    assert(InferSchema.inferLeaf("123", opts) === LongType)
    assert(InferSchema.inferLeaf("1.25", opts) === DoubleType)
    assert(InferSchema.inferLeaf("true", opts) === BooleanType)
    assert(InferSchema.inferLeaf("2020-01-01T00:00:00Z", opts) === TimestampType)
    assert(InferSchema.inferLeaf("2020-01-01", opts) === DateType)
    assert(InferSchema.inferLeaf("hello", opts) === StringType)
    assert(InferSchema.inferLeaf("", opts) === NullType)
  }

  test("record inference: struct with attrs, repeated elements, valueTag") {
    val t = infer("""<r id="7"><a>1</a><a>2</a><b>x</b></r>""")
    val st = t.asInstanceOf[StructType]
    assert(st("_id").dataType === LongType)
    assert(st("a").dataType === ArrayType(LongType))
    assert(st("b").dataType === StringType)

    val vt = infer("""<r unit="kg">12.5</r>""").asInstanceOf[StructType]
    assert(vt("_unit").dataType === StringType)
    assert(vt("_VALUE").dataType === DoubleType)
  }

  test("record inference per element shape: leaf, attributes, text, repeats, split text") {
    def st(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    // Leaf-only elements, one per leaf type, and an empty one.
    assert(infer("<r><a>1</a><b>x</b><c>2020-01-01</c><d/><e>1.5</e><f>true</f></r>") ===
      st("a" -> LongType, "b" -> StringType, "c" -> DateType, "d" -> NullType,
        "e" -> DoubleType, "f" -> BooleanType))
    // Attribute-only elements, with and without a body.
    assert(infer("""<r><e k="1" n="x"/><g t="2020-01-01T00:00:00Z"></g></r>""") ===
      st("e" -> st("_k" -> LongType, "_n" -> StringType),
        "g" -> st("_t" -> TimestampType)))
    // Text beside an attribute lands in the valueTag, also at the record.
    assert(infer("""<r id="3">7<w unit="kg">12.5</w></r>""") ===
      st("_id" -> LongType, "w" -> st("_unit" -> StringType, "_VALUE" -> DoubleType)))
    assert(infer("""<r id="3">7</r>""") === st("_id" -> LongType, "_VALUE" -> LongType))
    // A repeated child becomes an array of the merged type, wherever it repeats.
    assert(infer("<r><i>1</i><j><x>1</x></j><i>2.5</i><j><x>b</x><y/></j></r>") ===
      st("i" -> ArrayType(DoubleType),
        "j" -> ArrayType(st("x" -> StringType, "y" -> NullType))))
    // Text split by a comment or a processing instruction is one value.
    assert(infer("""<r><t>12<!-- c -->34</t><u a="1">ab<?pi x?>cd</u><v> </v></r>""") ===
      st("t" -> LongType, "u" -> st("_a" -> LongType, "_VALUE" -> StringType),
        "v" -> NullType))
    assert(infer("<r>1<!-- c -->.5</r>") === DoubleType)
  }

  test("merge lattice: numeric widening, null absorption, string top") {
    assert(merge(LongType, DoubleType) === DoubleType)
    assert(merge(NullType, LongType) === LongType)
    assert(merge(DateType, TimestampType) === TimestampType)
    assert(merge(LongType, StringType) === StringType)
    assert(merge(BooleanType, LongType) === StringType)
  }

  test("merge lattice: struct union and array wrapping") {
    val s1 = StructType(Seq(StructField("a", LongType)))
    val s2 = StructType(Seq(StructField("a", DoubleType), StructField("b", StringType)))
    val m = merge(s1, s2).asInstanceOf[StructType]
    assert(m("a").dataType === DoubleType)
    assert(m("b").dataType === StringType)

    assert(merge(ArrayType(LongType), LongType) === ArrayType(LongType))
    assert(merge(ArrayType(LongType), DoubleType) === ArrayType(DoubleType))
    assert(merge(ArrayType(LongType), ArrayType(DoubleType)) === ArrayType(DoubleType))
  }

  test("merge lattice: scalar absorbs into struct valueTag") {
    val attributed = StructType(Seq(
      StructField("_unit", StringType), StructField("_VALUE", LongType)))
    val m = merge(attributed, DoubleType).asInstanceOf[StructType]
    assert(m("_VALUE").dataType === DoubleType)
    assert(m("_unit").dataType === StringType)
  }

  test("mixed content: struct wins over interleaved text") {
    val t = infer("<r>leading <b>1</b> trailing</r>").asInstanceOf[StructType]
    assert(t.fieldNames.toSeq === Seq("b"))
  }

  test("a leaf no double cast accepts infers as string, and reads back intact") {
    assert(InferSchema.inferLeaf("++1", opts) === StringType)
    assert(InferSchema.inferLeaf("+-5", opts) === StringType)
    assert(InferSchema.inferLeaf("+1.5", opts) === DoubleType)
    val spark = SparkTestSession.spark
    import spark.implicits._
    val df = new XmlReader().withRowTag("r").xmlDataset(spark, Seq("<r><a>++1</a></r>").toDS())
    assert(df.schema("a").dataType === StringType)
    assert(df.collect().map(_.getString(0)).toSeq === Seq("++1"))
  }

  test("distributed inference: the same schema at any partitioning and record order") {
    // Partition results reach the driver merge in task-completion order, so
    // the merge must not depend on it. The corpus widens in every way the
    // lattice allows: long to double, date to timestamp, one element to an
    // array, empty to typed, a scalar into an attributed element's valueTag;
    // one field appears in a single record, so a lost partition result shows.
    val records = (0 until 600).map { i =>
      val date = if (i % 7 == 0) "1997-08-13T10:15:30Z" else f"1997-08-${1 + i % 28}%02d"
      val total = if (i % 5 == 0) s"$i.5" else i.toString
      val items = (0 to i % 3).map { j =>
        s"""<item line="$j"><sku>S${i * 10 + j}</sku><qty>${j + 1}</qty></item>"""
      }.mkString
      val weight = if (i % 4 == 0) """<weight unit="kg">12</weight>""" else "<weight>12.5</weight>"
      val note = if (i % 3 == 0) "<note/>" else s"<note>n$i</note>"
      val flag = if (i % 11 == 0) "<flag>true</flag>" else ""
      val rare = if (i == 317) "<rare>x</rare>" else ""
      s"""<order id="$i"><date>$date</date><total>$total</total>$items$weight$note$flag$rare</order>"""
    }
    val sc = SparkTestSession.spark.sparkContext
    def inferAt(rs: Seq[String], partitions: Int): StructType =
      InferSchema.infer(sc.parallelize(rs, partitions), opts)
    val expected = inferAt(records, 1)
    assert(expected("rare").dataType === StringType)
    assert(expected("date").dataType === TimestampType)
    assert(expected("total").dataType === DoubleType)
    assert(expected("item").dataType.isInstanceOf[ArrayType])
    assert(expected("weight").dataType === StructType(Seq(
      StructField("_VALUE", DoubleType), StructField("_unit", StringType))))
    val shuffled = new scala.util.Random(42).shuffle(records)
    for ((rs, n) <- Seq(records -> 8, records -> 64, shuffled -> 8)) {
      assert(inferAt(rs, n) === expected, s"at $n partitions")
    }
  }
}
