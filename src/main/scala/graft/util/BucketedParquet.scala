package graft.util

import java.nio.file.Paths

import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Request-time reads of a directory-partitioned parquet root
  * (`<root>/<partCol>=<v>/…`) through the row schema persisted beside it
  * (`<root>/_schema.json`; the underscore keeps it out of the parquet
  * file index). The serving stores ([[graft.search.ServingStores]]) and
  * every relation of the BM25 index ([[graft.search.BM25Index]]) are laid
  * out this way.
  *
  * Both halves of a plain `spark.read.parquet(root)` cost a Spark job
  * before the query's own action: schema inference reads footers in a
  * job, and a root with more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) partition
  * dirs is listed by a job with one task per dir. A probe whose partition
  * values the driver already knows needs neither: the schema comes from
  * disk and only the probed dirs are listed. `basePath` keeps the
  * partition column in the schema, so the plan's `PartitionFilters` are
  * the same as over the whole root.
  */
object BucketedParquet {

  private val SchemaFile = "_schema.json"

  /** Persist the row schema of a layout written under `root` — the
    * written frame's own schema, so recording it costs no job.
    */
  def writeSchema(root: String, schema: StructType): Unit = {
    StoreFs.createDirectories(Paths.get(root))
    StoreFs.writeString(Paths.get(root, SchemaFile), schema.json)
  }

  /** The persisted schema, or a loud failure naming the layout: a root
    * without one predates the persisted-schema layout and is rebuilt,
    * never read through a second, inferring path.
    */
  def schema(root: String): StructType = {
    val f = Paths.get(root, SchemaFile)
    if (!StoreFs.exists(f)) throw new IllegalStateException(
      s"store layout at $root has no $SchemaFile — it predates the " +
        "persisted-schema layout (or lost the file); truncate and rebuild it")
    DataType.fromJson(StoreFs.readString(f)).asInstanceOf[StructType]
  }

  /** Every partition of `root`. */
  def readAll(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(schema(root)).parquet(root)

  /** Only the `partCol=<v>` dirs for `values` that exist. When none
    * does, the same reader over no path at all: a typed empty frame with
    * exactly the schema (nullability included) a real read has.
    */
  def readParts(spark: SparkSession, root: String, partCol: String,
                values: Seq[Int]): DataFrame = {
    val dirs = values.distinct.sorted.map(v => s"$root/$partCol=$v")
      .filter(d => StoreFs.isDirectory(Paths.get(d)))
    spark.read.schema(schema(root)).option("basePath", root)
      .parquet(dirs: _*)
  }
}
