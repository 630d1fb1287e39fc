package graft.xml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, url_decode, url_encode, when}
import org.apache.spark.sql.types.{StringType, StructType}

/**
 * Hive-style partitioned XML layouts (`basePath/col=value/part-…`) through
 * Spark's `partitionBy` write and partition-discovery read over
 * [[XmlFileFormat]]: each part file is a complete XML document of the data
 * columns, a null value goes to the Hive default partition, the read is one
 * scan, and a filter on a partition column prunes directories in the planner.
 *
 * A string value holding a non-ASCII character, `%` or `+` is URL-encoded
 * (UTF-8) before Spark's own path escaping, so every directory name is ASCII
 * whatever the JVM's file-name encoding; `url_decode` is the identity on all
 * other values, so the read decodes every string partition column.
 */
object XmlPartitioned {

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** `partitionCols` become directories (in order). Rows are hash-partitioned
   *  by them first, so each directory gets one part file, not one per task. */
  def write(
      df: DataFrame,
      basePath: String,
      partitionCols: Seq[String],
      options: Map[String, String] = Map.empty): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must not be empty")
    require(df.schema.fieldNames.exists(f => !partitionCols.contains(f)),
      "no data columns left after partition columns")
    partitionCols.foreach { c =>
      require(df.schema.fieldNames.contains(c), s"unknown partition column '$c'")
    }
    val encoded = df.schema.fields.filter(f => partitionCols.contains(f.name) &&
      f.dataType == StringType).foldLeft(df) { (d, f) =>
      val v = quoted(f.name)
      d.withColumn(f.name, when(v.rlike("[^\\x00-\\x7F]|[%+]"), url_encode(v)).otherwise(v))
    }
    encoded.repartition(partitionCols.map(quoted): _*)
      .write.format(classOf[XmlFileFormat].getName).options(options)
      .partitionBy(partitionCols: _*).save(basePath)
  }

  /** Reads a layout back; `schema`, when given, types the data columns and the
   *  partition columns it names. The others read back as the strings written:
   *  Spark's partition type inference would turn `007` into 7. */
  def read(
      spark: SparkSession,
      basePath: String,
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None): DataFrame = {
    val reader = spark.read.format(classOf[XmlFileFormat].getName).options(options)
    val probe = schema.fold(reader)(reader.schema).load(basePath)
    val relation = probe.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get
    val resolver = spark.sessionState.conf.resolver
    val partitions = StructType(relation.partitionSchema.map { f =>
      if (schema.exists(_.fieldNames.exists(resolver(_, f.name)))) f
      else f.copy(dataType = StringType)
    })
    val df = if (partitions == relation.partitionSchema) probe
      else reader.schema(StructType(relation.dataSchema ++ partitions)).load(basePath)
    df.select(df.schema.fieldNames.toSeq.map { name =>
      if (partitions.exists(p => p.name == name && p.dataType == StringType)) {
        url_decode(quoted(name)).as(name)
      } else quoted(name)
    }: _*)
  }
}
