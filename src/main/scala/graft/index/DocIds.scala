package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.analysis.Analyzer
import graft.model.{Doc, Turn}

/** Dense, gap-free docId assignment in stable `(conv_id, turn_idx)` order
  * — the engine's record identity (≙ reference `_id = path`,
  * BulkIndexer.java:48) without the 1-task global `row_number()`
  * bottleneck (SURVEY.md §7.5 decision 1).
  *
  * One numbering routine ([[number]]) serves every entry point:
  * range-repartition on the key, sort within partitions, count per
  * partition, broadcast the cumulative offsets, then a second pass
  * numbers rows per partition. Two jobs over a cached frame instead of
  * one global sort on a single task — the shape that survives 1000
  * executors. With last-write-wins on, the same partition sort puts each
  * key's winner first and both passes drop the rest, so dedup rides the
  * one shuffle. The typed entry points ([[dedupAndAssign]], [[assign]])
  * and the fielded one ([[dedupAndAssignFrame]]) differ only in their
  * input and whether LWW applies.
  */
object DocIds {

  /** Deterministic last-write-wins dedup on the doc key (≙ reference
    * duplicate-path semantics, CsvReader.java:361-376 + upsert-by-id):
    * keep the row with the greatest `ts` (ties: greatest text — pinned,
    * arbitrary but deterministic). The window form is the reference the
    * fused path is tested against.
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

  /** Fused [[dedup]] + docId assignment in ONE range shuffle on the doc
    * key — the build and streaming hot path. docIds start at `base` (a
    * streaming segment's first free docId). The result is persisted
    * (MEMORY_AND_DISK); the caller unpersists it.
    */
  def dedupAndAssign(turns: Dataset[Turn], partitions: Int, base: Long = 0L): Dataset[Doc] = {
    import turns.sparkSession.implicits._
    number(turns.toDF(), partitions, base, lww = true).as[Doc]
  }

  /** [[dedupAndAssign]] for batches with EXTRA metadata columns (fielded
    * streaming ingest — the columns ride through to the doc store and
    * become filterable / field-indexable per `IndexConfig.fieldCols` /
    * `textFieldCols` / `numericFieldCols`). The frame must carry
    * (conv_id, turn_idx, ts, text); the result is `docId`, the frame's
    * columns, `dl`, persisted like [[dedupAndAssign]]'s.
    */
  def dedupAndAssignFrame(frame: DataFrame, partitions: Int, base: Long = 0L): DataFrame =
    number(frame, partitions, base, lww = true)

  /** docId assignment alone (no dedup), numbered from 0; persisted like
    * [[dedupAndAssign]]'s result.
    */
  def assign(turns: Dataset[Turn], partitions: Int): Dataset[Doc] = {
    import turns.sparkSession.implicits._
    number(turns.toDF(), partitions, 0L, lww = false).as[Doc]
  }

  /** The one numbering routine: `docId` (dense from `base` in key
    * order), the frame's columns, `dl`. With `lww`, only each key's
    * winner (`ts` desc, `text` desc) is kept.
    */
  private def number(frame: DataFrame, partitions: Int, base: Long, lww: Boolean): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val key = Seq(col("conv_id"), col("turn_idx"))
    val sorted = frame
      .repartitionByRange(partitions, key: _*)
      .sortWithinPartitions(key ++ (if (lww) Seq(col("ts").desc, col("text").desc) else Nil): _*)
      .cache()
    val convIdx = sorted.schema.fieldIndex("conv_id")
    val turnIdx = sorted.schema.fieldIndex("turn_idx")
    val textIdx = sorted.schema.fieldIndex("text")
    // the rows a partition numbers: all of them, or each key's first
    def kept(it: Iterator[Row]): Iterator[Row] =
      if (!lww) it
      else {
        var conv: String = null
        var turn = 0
        it.filter { r =>
          val fresh = conv == null || r.getString(convIdx) != conv || r.getInt(turnIdx) != turn
          conv = r.getString(convIdx)
          turn = r.getInt(turnIdx)
          fresh
        }
      }
    val counts: Map[Int, Long] = sorted
      .mapPartitions(it => Iterator((TaskContext.getPartitionId(), kept(it).size.toLong)))
      .collect().toMap
    val offsets = (0 until partitions).map(counts.getOrElse(_, 0L)).scanLeft(base)(_ + _).toArray
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = StructType(StructField("docId", LongType, nullable = false) +:
      sorted.schema.fields :+ StructField("dl", IntegerType, nullable = false))
    // NOTE: range-partition boundaries are re-sampled per execution (the
    // sampling seed involves the RDD id), so the numbered result is
    // materialized exactly once while `sorted` is still cached, and
    // pinned with MEMORY_AND_DISK. Durable builds (IndexBuilder phase A)
    // immediately persist it to parquet and re-read from there.
    val docs = sorted.mapPartitions { it =>
      var id = bc.value(TaskContext.getPartitionId())
      kept(it).map { r =>
        val out = Row.fromSeq((id +: r.toSeq) :+ Analyzer.tokenize(r.getString(textIdx)).length)
        id += 1
        out
      }
    }(Encoders.row(outSchema))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    sorted.unpersist(blocking = false)
    docs
  }
}
