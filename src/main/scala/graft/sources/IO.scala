package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.streaming.DataStreamReader
import org.apache.spark.sql.types.StructType

/** Batch sources beyond the in-memory lifts in [[graft.core.Pipeline]]
  * (SURVEY §2.1 S2/S4). All scans are lazy DataFrame reads so pushdown and
  * pruning reach the file format; the Cassandra/HTTP connectors of the
  * reference are out of scope here (no such services in this environment) —
  * their engine analog is a DataSource V2 table, which these helpers would
  * wrap the same way.
  */
object Sources {
  /** The one parquet reader. The schema comes from one footer read on
    * the driver ([[GraftFooterSchema]]), so building the frame starts no
    * Spark job; the scan itself stays lazy. A path with no parquet file
    * to read (missing, empty) is left to Spark's own read, which fails
    * the way it always has. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val r = spark.read
    GraftFooterSchema.read(spark, path).fold(r)(r.schema).parquet(path)
  }

  def csv(spark: SparkSession, path: String, header: Boolean = true,
          schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
  }

  def json(spark: SparkSession, path: String,
           schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  def text(spark: SparkSession, path: String): Dataset[String] = {
    import spark.implicits._
    spark.read.textFile(path)
  }

  /** Streaming scan of a directory (Structured Streaming file source).
    * Schema is mandatory for streams — no inference races at 100 TB. */
  def stream(spark: SparkSession, format: String, schema: StructType): DataStreamReader =
    spark.readStream.format(format).schema(schema)
}

/** Terminal sinks (SURVEY §2.1 S6–S8 map to Pipeline.eval*; these are the
  * durable-output forms). Defaults follow the 100 TB policy: snappy
  * parquet, no driver-side collection, explicit partitioning columns for
  * pruned downstream reads.
  */
object Sinks {
  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
              mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def csv(df: DataFrame, path: String, header: Boolean = true,
          mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  def json(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /** Run the plan, discard rows — the reference's Output.ignore. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Training-shard writer — the durable endpoint of
    * [[graft.llm.Packing.shuffleShards]] (or [[graft.llm.Packing.interleave]]
    * via [[graft.llm.Packing.shardByPos]], which derives the shard
    * layout from `interleave_pos`): one parquet directory per shard
    * (`shard_id=K/`), rows WITHIN each shard file laid out in training
    * order. `repartition(shardCol)` hashes each shard wholly into one
    * task (one output file per shard — a training loader reads shard K
    * sequentially, no small-file spray), `sortWithinPartitions(shardCol,
    * orderCol)` fixes the in-file row order, and `partitionBy(shardCol)`
    * makes the shard id a directory key so a loader's shard selection is
    * partition-pruned, never scanned.
    *
    * Sizing: hash repartitioning packs ~`numShards / numPartitions`
    * shards per task, so a task buffers that many × rowsPerShard rows —
    * pass `numPartitions` ≈ the shard count to keep it near one shard
    * per task (the default uses the session's shuffle partitions, which
    * under-splits when shards outnumber them); the one-file-per-shard
    * guarantee is the dynamic-partition writer's and holds regardless. */
  def trainingShards(df: DataFrame, path: String,
                     shardCol: String = "shard_id",
                     orderCol: String = "pos_in_shard",
                     numPartitions: Option[Int] = None,
                     mode: String = "overwrite"): Unit = {
    require(df.columns.contains(shardCol) && df.columns.contains(orderCol),
      s"trainingShards needs the layout columns '$shardCol' and '$orderCol' — " +
        "run Packing.shuffleShards (or interleave + Packing.shardByPos) first")
    val c = org.apache.spark.sql.functions.col(shardCol)
    val parted = numPartitions match {
      case Some(n) => df.repartition(n, c)
      case None => df.repartition(c)
    }
    parted.sortWithinPartitions(shardCol, orderCol)
      .write.mode(mode).partitionBy(shardCol).parquet(path)
  }

  /** Sharded-JSONL layout writer — the line-oriented sibling of
    * [[trainingShards]] and the write side of the `graft-jsonl`
    * DataSource V2 connector ([[ShardJsonlSource]]): one text directory
    * per shard (`shard_id=K/`), one JSON object per line, rows within a
    * shard in training order, `shard_id` living ONLY in the directory
    * name (the connector restores it from the path — partition-column
    * semantics, no redundant bytes per line). Same repartition/sort
    * discipline and sizing rule as trainingShards: one ordered file per
    * shard, so a loader's shard selection prunes directories and reads
    * sequentially. */
  def jsonlShards(df: DataFrame, path: String,
                  shardCol: String = "shard_id",
                  orderCol: String = "pos_in_shard",
                  numPartitions: Option[Int] = None,
                  mode: String = "overwrite"): Unit = {
    require(df.columns.contains(shardCol) && df.columns.contains(orderCol),
      s"jsonlShards needs the layout columns '$shardCol' and '$orderCol' — " +
        "run Packing.shuffleShards (or interleave + Packing.shardByPos) first")
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val dataCols = df.columns.filterNot(_ == shardCol)
    val parted = numPartitions match {
      case Some(n) => df.repartition(n, col(shardCol))
      case None => df.repartition(col(shardCol))
    }
    parted.sortWithinPartitions(shardCol, orderCol)
      .select(to_json(struct(dataCols.map(col): _*)).as("value"), col(shardCol))
      .write.mode(mode).partitionBy(shardCol).text(path)
  }

  /** Persist an IVF-PQ ANN index — the durable endpoint of
    * [[graft.llm.Similarity.buildPqIndex]]: `<path>/codes/` holds the
    * fixed-width `(id, subspace, code)` rows PARTITIONED BY coarse
    * `cell` (so [[graft.llm.Similarity.searchPqIndex]]'s probed-cell
    * set partition-prunes the scan — a search at nprobe/C touches only
    * that fraction of the files), and `<path>/codebooks/` holds both
    * codebook levels as one tiny table (`level` 0 = coarse, 1 = pq;
    * one row per centroid). At 100 TB the codes directory is the ~1%
    * artifact the corpus's raw vectors compress to; build once, search
    * many — [[graft.llm.Similarity.loadPqIndex]] reloads without
    * touching the corpus. */
  def pqIndex(corpus: DataFrame, path: String, coarse: Seq[Seq[Double]],
              codebooks: Seq[Seq[Seq[Double]]], idCol: String = "vec_id",
              vecCol: String = "embedding"): Unit = {
    graft.llm.Similarity.buildPqIndex(corpus, coarse, codebooks, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    writeCodebooks(corpus.sparkSession, s"$path/codebooks", coarse, codebooks)
  }

  /** The codebook-table write [[pqIndex]] and the maintained ANN store
    * (`StreamOps.bootstrapAnn`) share — the format
    * [[graft.llm.Similarity.loadCodebooks]] reads (level 0 = coarse,
    * level 1 = per-subspace PQ). One coalesced file: the table is
    * ≤ MaxCentroids rows by the driver-side-plan-object discipline. */
  def writeCodebooks(spark: org.apache.spark.sql.SparkSession, path: String,
                     coarse: Seq[Seq[Double]],
                     codebooks: Seq[Seq[Seq[Double]]]): Unit = {
    import spark.implicits._
    val rows = coarse.zipWithIndex.map { case (c, k) => (0, 0, k, c) } ++
      codebooks.zipWithIndex.flatMap { case (ks, s) =>
        ks.zipWithIndex.map { case (c, k) => (1, s, k, c) }
      }
    rows.toDF("level", "subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Bucketed managed table — the co-located-join primitive: two tables
    * bucketed by the same key into the same bucket count join with NO
    * exchange on either side (each bucket pairs positionally). At 100 TB
    * this converts the fact⋈fact shuffle — the single largest cost in a
    * star-schema pipeline — into a map-side merge; `sortCols` additionally
    * removes the per-bucket sort. */
  def bucketTable(df: DataFrame, table: String, bucketCols: Seq[String],
                  numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }
}
