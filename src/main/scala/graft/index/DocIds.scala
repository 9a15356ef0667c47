package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.model.{Doc, Turn}

/** Dense, gap-free docId assignment in stable `(conv_id, turn_idx)` order
  * — the engine's record identity (≙ reference `_id = path`,
  * BulkIndexer.java:48) without the 1-task global `row_number()`
  * bottleneck (SURVEY.md §7.5 decision 1): range-repartition on the key,
  * sort within partitions, count per partition, broadcast the cumulative
  * offsets, then a second pass numbers rows per partition. Two jobs over
  * a cached Dataset instead of one global sort on a single task — the
  * shape that survives 1000 executors.
  */
object DocIds {

  /** Deterministic last-write-wins dedup on the doc key (≙ reference
    * duplicate-path semantics, CsvReader.java:361-376 + upsert-by-id):
    * keep the row with the greatest `ts` (ties: greatest text — pinned,
    * arbitrary but deterministic).
    */
  def dedup(turns: Dataset[Turn]): Dataset[Turn] = {
    import turns.sparkSession.implicits._
    // expression-based (stays in whole-stage codegen; one shuffle on the
    // doc key, same as the hash-agg a reduceGroups would need)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("conv_id"), col("turn_idx"))
      .orderBy(col("ts").desc, col("text").desc)
    turns.toDF()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === lit(1))
      .drop("__rn")
      .as[Turn]
  }

  /** Fused dedup + docId assignment: ONE range shuffle on the doc key
    * does everything — range partitioning puts all copies of a key in
    * one partition, the partition sort puts the winner (ts desc, text
    * desc) first, a per-partition scan drops the rest and numbers the
    * survivors against broadcast offsets. This is the build hot path;
    * `dedup`+`assign` remain as the composable pieces. docIds start at
    * `base` (a streaming segment's first free docId). The result is
    * persisted (MEMORY_AND_DISK); the caller unpersists it.
    */
  def dedupAndAssign(turns: Dataset[Turn], partitions: Int, base: Long = 0L): Dataset[Doc] = {
    val spark: SparkSession = turns.sparkSession
    import spark.implicits._
    val sorted = turns
      .repartitionByRange(partitions, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"), col("ts").desc, col("text").desc)
      .cache()
    def winners(it: Iterator[Turn]): Iterator[Turn] = new Iterator[Turn] {
      private val in = it.buffered
      private var last: (String, Int) = null
      private def skipDupes(): Unit =
        while (in.hasNext && last != null &&
          in.head.conv_id == last._1 && in.head.turn_idx == last._2) in.next()
      override def hasNext: Boolean = { skipDupes(); in.hasNext }
      override def next(): Turn = {
        skipDupes()
        val t = in.next()
        last = (t.conv_id, t.turn_idx)
        t
      }
    }
    val counts: Map[Int, Long] = sorted
      .mapPartitions(it => Iterator((TaskContext.getPartitionId(), winners(it).size.toLong)))
      .collect().toMap
    val offsets: Map[Int, Long] = {
      var acc = base
      (0 until partitions).map { pid =>
        val o = pid -> acc
        acc += counts.getOrElse(pid, 0L)
        o
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val docs = sorted.mapPartitions { it =>
      var id = bc.value(TaskContext.getPartitionId())
      winners(it).map { t =>
        val d = Doc(id, t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts,
          Analyzer.tokenize(t.text).length)
        id += 1
        d
      }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    sorted.unpersist(blocking = false)
    docs
  }

  /** Frame variants of [[dedup]]/[[assign]] for corpora with EXTRA
    * metadata columns (streaming ingest of fielded docs — the columns
    * ride through to the doc store and become filterable /
    * field-indexable per `IndexConfig.fieldCols` / `textFieldCols` /
    * `numericFieldCols`). The frame must carry (conv_id, turn_idx, ts,
    * text); `assignFrame` appends (docId, dl) with the same dense,
    * stable, no-global-window assignment as the typed path, numbered
    * from `base`, persisted like [[dedupAndAssign]]'s result.
    */
  def dedupFrame(frame: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("conv_id"), col("turn_idx"))
      .orderBy(col("ts").desc, col("text").desc)
    frame
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === lit(1))
      .drop("__rn")
  }

  def assignFrame(frame: org.apache.spark.sql.DataFrame, partitions: Int, base: Long = 0L)
      : org.apache.spark.sql.DataFrame = {
    val spark = frame.sparkSession
    val sorted = frame
      .repartitionByRange(partitions, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .cache()
    val counts: Map[Int, Long] = sorted
      .select(spark_partition_id().as("pid"))
      .groupBy("pid").count()
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    val offsets: Map[Int, Long] = {
      var acc = base
      (0 until partitions).map { pid =>
        val o = pid -> acc
        acc += counts.getOrElse(pid, 0L)
        o
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val textIdx = sorted.schema.fieldIndex("text")
    val outSchema = sorted.schema
      .add("docId", org.apache.spark.sql.types.LongType, nullable = false)
      .add("dl", org.apache.spark.sql.types.IntegerType, nullable = false)
    val docs = sorted.mapPartitions { it =>
      var id = bc.value(TaskContext.getPartitionId())
      it.map { r =>
        val dl = Analyzer.tokenize(r.getString(textIdx)).length
        val out = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ id :+ dl)
        id += 1
        out
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    sorted.unpersist(blocking = false)
    docs
  }

  def assign(turns: Dataset[Turn], partitions: Int): Dataset[Doc] = {
    val spark: SparkSession = turns.sparkSession
    import spark.implicits._
    val sorted = turns
      .repartitionByRange(partitions, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .cache()
    val counts: Map[Int, Long] = sorted
      .select(spark_partition_id().as("pid"))
      .groupBy("pid").count()
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      (0 until partitions).map { pid =>
        val o = pid -> acc
        acc += counts.getOrElse(pid, 0L)
        o
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    // NOTE: range-partition boundaries are re-sampled per execution (the
    // sampling seed involves the RDD id), so the numbered result is
    // materialized exactly once while `sorted` is still cached, and
    // pinned with MEMORY_AND_DISK. Durable builds (IndexBuilder phase A)
    // immediately persist it to parquet and re-read from there.
    val docs = sorted.mapPartitions { it =>
      var id = bc.value(TaskContext.getPartitionId())
      it.map { t =>
        val d = Doc(id, t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts,
          Analyzer.tokenize(t.text).length)
        id += 1
        d
      }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    sorted.unpersist(blocking = false)
    docs
  }
}
