package graft.xml

import javax.xml.stream.{XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.types._

/**
 * Distributed schema inference: per-record type inference on executors,
 * merged on the driver through a commutative type lattice.
 *
 * Semantics follow the reference
 * (reference: src/main/scala/com/databricks/spark/xml/util/InferSchema.scala:67-332):
 * leaves infer as Boolean/Long/Double/Timestamp/Date/String, repeated sibling
 * elements widen to arrays, structs merge field-wise, `NullType` canonicalizes
 * to String, inferred struct fields are name-sorted.
 *
 * The merge is one `SparkContext.runJob`, as in Spark's own `XmlInferSchema`
 * and `JsonInferSchema`: each task folds its partition to one type and the
 * driver merges each task's type as it arrives. A `treeAggregate` adds a
 * shuffle stage once there are more than a few partitions, and this job has
 * none; the driver holds one merged schema, not one per partition. The
 * lattice merge is commutative and the result canonicalized, so task
 * completion order does not change the result (InferSchemaSuite checks 1,
 * 8 and 64 partitions and a shuffled order). One edge is not associative:
 * an element that holds children in some records, a bare scalar in others
 * and an attributed scalar in others. Its type already depended on the
 * partitioning under `treeAggregate`.
 *
 * Performance contract: leaf type probes are EXCEPTION-FREE for
 * non-matching values ([[TypeCast.isLong]]/`isDouble` reject by scanning,
 * `isTimestamp`/`isDate` by a `yyyy-` head gate and then non-throwing
 * unresolved parses) — a corpus must never pay an exception per probe
 * (measured 6.2 → 1.07 s on a 600k-record string corpus when the storm was
 * removed; `schema_of_xml` and `samplingRatio` inference inherit the same
 * path). Pinned by TypeCastSuite's budget specs, which fail if
 * exception-driven rejection creeps back into the predicates.
 */
private[graft] object InferSchema {

  def infer(xml: RDD[String], options: XmlOptions): StructType = {
    val sampled =
      if (options.samplingRatio < 1.0) xml.sample(withReplacement = false, options.samplingRatio, 1)
      else xml
    // Per-record inference is CPU-bound; an under-partitioned input (a
    // 1-split file, a derived dataset inheriting a small scan) would run it
    // nearly serial. The lattice merge is commutative and canonicalized, so
    // a round-robin spread cannot change the result. At scale inputs carry
    // more partitions than cores and this is a no-op.
    val target = sampled.sparkContext.defaultParallelism
    val spread =
      if (sampled.getNumPartitions < target) sampled.repartition(target) else sampled
    val merge = compatibleType(options) _
    var merged: DataType = NullType
    // The result handler runs on the driver, one task result at a time.
    spread.sparkContext.runJob(spread,
      (records: Iterator[String]) => inferPartition(records, options),
      (_: Int, partial: DataType) => merged = merge(merged, partial))

    canonicalize(merged, options) match {
      case st: StructType => st
      case _ => StructType(Nil)
    }
  }

  /** The schema a read without a user schema resolves, shared by the
   *  stream source and [[XmlFileFormat]]: the inferred
   *  schema, with every leaf a string unless `inferSchema` is on. */
  def forRead(xml: RDD[String], options: XmlOptions): StructType = {
    val inferred = infer(xml, options)
    if (options.inferSchema) inferred else stringOnly(inferred).asInstanceOf[StructType]
  }

  /** One partition's records merged to one type. */
  private def inferPartition(records: Iterator[String], options: XmlOptions): DataType = {
    val validator = options.rowValidationXSDPath.map(ValidatorUtil.forPath)
    // Shape dedup: `compatibleType` is idempotent (merge(a, a) == a), so
    // each DISTINCT record shape needs to reach the lattice merge only
    // once per partition. Real corpora have a handful of shapes across
    // millions of records; the merge allocates (LinkedHashMap + new
    // StructType per step) while the set probe just hashes (StructType
    // caches its hashCode). Keeps per-record merge cost O(1) regardless
    // of schema width — the flat-corpus time is dominated by the leaf
    // probes (see TypeCast's exception-free predicates), but a
    // 1000-field schema merged per record would dominate without this.
    // The set is CAPPED: k optional fields can produce up to 2^k
    // distinct record shapes, so an unbounded set could hold
    // combinatorially more than the merged schema. Past the cap, known
    // shapes still dedup and novel ones flow straight to the merge —
    // memory stays O(cap × shape), correctness is unaffected either way.
    val maxTrackedShapes = 4096
    val seen = mutable.HashSet.empty[DataType]
    val merge = compatibleType(options) _
    var merged: DataType = NullType
    records.foreach { record =>
      val shape =
        try {
          validator.foreach(ValidatorUtil.validate(_, record))
          inferRecord(record, options)
        } catch {
          case NonFatal(_) =>
            options.parseMode match {
              case ParseMode.FailFast =>
                throw new IllegalArgumentException(s"Malformed record during inference: $record")
              case _ => null
            }
        }
      if (shape != null && !seen.contains(shape)) {
        if (seen.size < maxTrackedShapes) seen.add(shape)
        merged = merge(merged, shape)
      }
    }
    merged
  }

  def inferRecord(record: String, options: XmlOptions): DataType = {
    val reader = StaxXmlParser.openRecord(record)
    try inferElement(reader, options)
    finally reader.close()
  }

  /**
   * Infers the type of the element the reader is positioned on, consuming it.
   * Result is one of: NullType (empty), a scalar type, or StructType whose
   * fields cover attributes (prefixed), children, and optionally valueTag.
   * The attribute buffer, child map, repeated set and text builder exist
   * only for an element that has attributes, children, repeated children or
   * text split over more than one event: a plain leaf allocates none.
   */
  private def inferElement(reader: XMLStreamReader, options: XmlOptions): DataType = {
    import XMLStreamConstants._

    var attrFields: mutable.ArrayBuffer[StructField] = null
    val attributes = if (options.excludeAttribute) 0 else reader.getAttributeCount
    if (attributes > 0) {
      attrFields = new mutable.ArrayBuffer[StructField](attributes)
      var i = 0
      while (i < attributes) {
        val name = options.attributePrefix + stripNs(reader.getAttributeLocalName(i), options)
        attrFields += StructField(name, inferLeaf(reader.getAttributeValue(i), options))
        i += 1
      }
    }

    var children: mutable.LinkedHashMap[String, DataType] = null
    var repeated: mutable.Set[String] = null
    var text = ""
    var moreText: java.lang.StringBuilder = null
    var done = false
    while (!done && reader.hasNext) {
      reader.next() match {
        case START_ELEMENT =>
          val name = stripNs(reader.getLocalName, options)
          val childType = inferElement(reader, options)
          if (children == null) children = mutable.LinkedHashMap.empty[String, DataType]
          children.get(name) match {
            case Some(existing) =>
              if (repeated == null) repeated = mutable.Set.empty[String]
              repeated += name
              children(name) = compatibleType(options)(existing, childType)
            case None =>
              children(name) = childType
          }
        case CHARACTERS | CDATA =>
          if (!reader.isWhiteSpace) {
            if (text.isEmpty && moreText == null) text = reader.getText
            else {
              if (moreText == null) moreText = new java.lang.StringBuilder(text)
              moreText.append(reader.getText)
            }
          }
        case END_ELEMENT | END_DOCUMENT => done = true
        case _ =>
      }
    }

    val textStr0 = if (moreText != null) moreText.toString else text
    val textStr = if (options.ignoreSurroundingSpaces) textStr0.trim else textStr0

    if (children == null && attrFields == null) {
      // Plain leaf.
      if (textStr.isEmpty) NullType else inferLeaf(textStr, options)
    } else {
      val fields = if (attrFields != null) attrFields else mutable.ArrayBuffer.empty[StructField]
      if (children != null) {
        val repeats = repeated // a var the closure captured would be boxed on every call
        children.foreach { case (name, dt) =>
          fields += StructField(name, if (repeats != null && repeats(name)) wrapArray(dt) else dt)
        }
      }
      // Text beside attributes/elements → valueTag (mixed content: struct wins,
      // text recorded only when there are no child elements).
      if (textStr.nonEmpty && children == null) {
        fields += StructField(options.valueTag, inferLeaf(textStr, options))
      }
      StructType(fields.toArray)
    }
  }

  private def wrapArray(dt: DataType): ArrayType = dt match {
    case a: ArrayType => a
    case other => ArrayType(other)
  }

  private def stripNs(name: String, options: XmlOptions): String =
    if (options.ignoreNamespace) {
      val i = name.indexOf(':')
      if (i >= 0) name.substring(i + 1) else name
    } else name

  def inferLeaf(value: String, options: XmlOptions): DataType = {
    val v = if (options.ignoreSurroundingSpaces) value.trim else value
    if (v.isEmpty || v == options.nullValue) NullType
    else if (TypeCast.isLong(v)) LongType
    else if (TypeCast.isDouble(v)) DoubleType
    else if (TypeCast.isBoolean(v)) BooleanType
    else if (TypeCast.isTimestamp(v, options)) TimestampType
    else if (TypeCast.isDate(v, options)) DateType
    else StringType
  }

  /** Commutative, associative merge over the inference lattice. */
  def compatibleType(options: XmlOptions)(t1: DataType, t2: DataType): DataType = (t1, t2) match {
    case (a, b) if a == b => a
    case (NullType, other) => other
    case (other, NullType) => other
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
    case (s1: StructType, s2: StructType) =>
      val byName = mutable.LinkedHashMap.empty[String, DataType]
      (s1.fields ++ s2.fields).foreach { f =>
        byName(f.name) = byName.get(f.name) match {
          case Some(existing) => compatibleType(options)(existing, f.dataType)
          case None => f.dataType
        }
      }
      StructType(byName.map { case (n, t) => StructField(n, t, nullable = true) }.toSeq)
    case (a1: ArrayType, a2: ArrayType) =>
      ArrayType(compatibleType(options)(a1.elementType, a2.elementType))
    case (a: ArrayType, other) => ArrayType(compatibleType(options)(a.elementType, other))
    case (other, a: ArrayType) => ArrayType(compatibleType(options)(a.elementType, other))
    // A scalar merging with an attributed struct absorbs into its valueTag.
    case (s: StructType, scalar) if s.fieldNames.contains(options.valueTag) =>
      mergeIntoValueTag(s, scalar, options)
    case (scalar, s: StructType) if s.fieldNames.contains(options.valueTag) =>
      mergeIntoValueTag(s, scalar, options)
    case _ => StringType
  }

  private def mergeIntoValueTag(
      s: StructType, scalar: DataType, options: XmlOptions): StructType = {
    StructType(s.fields.map { f =>
      if (f.name == options.valueTag) {
        StructField(f.name, compatibleType(options)(f.dataType, scalar), nullable = true)
      } else f
    })
  }

  /** NullType→String, empty-struct removal, name-sorted fields. */
  private def canonicalize(dt: DataType, options: XmlOptions): DataType = dt match {
    case st: StructType =>
      val cleaned = st.fields.flatMap { f =>
        canonicalize(f.dataType, options) match {
          case s: StructType if s.isEmpty => None
          case t => Some(StructField(f.name, t, nullable = true))
        }
      }
      StructType(cleaned.sortBy(_.name))
    case ArrayType(et, _) => ArrayType(canonicalize(et, options))
    case NullType => StringType
    case other => other
  }

  /** All-strings schema shape for `inferSchema=false`. */
  def stringOnly(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f => StructField(f.name, stringOnly(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(stringOnly(et))
    case _ => StringType
  }
}
