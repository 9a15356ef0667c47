package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.analysis.Analyzer
import graft.model._

/** Deterministic cross-side term hash (build writes shard in Scala; the
  * query path computes the same shard for pruning without a Spark job).
  * FNV-1a 64 over UTF-8 bytes.
  */
object GraftHash {
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
  def shardOf(term: String, numShards: Int): Int =
    java.lang.Math.floorMod(fnv1a64(term), numShards.toLong).toInt
}

/** On-disk segment format flag (`format.props` next to the stores).
  * Version 3 is the one format every reader understands: the manifest
  * cells carry the corpus stats, the dictionary statistics and each
  * bucket's docId bounds, `dict/` is the only dictionary store, and
  * exists markers ([[FieldTerms.existsTerm]]) are emitted for every
  * configured field column. A fresh build stamps it before writing any
  * cell; every reader checks it with [[requireCurrent]], so a segment
  * from another writer fails at open with one message instead of being
  * read along a second path.
  */
object IndexFormat {
  /** The current and only readable format. */
  val Version = 3

  private def flagPath(indexDir: String) = new Path(indexDir, "format.props")

  /** Stamp `indexDir` with [[Version]] — an atomic overwrite rename via
    * FileContext (the SegmentCatalog pointer recipe), so the flag is
    * never absent in between.
    */
  def write(fs: org.apache.hadoop.fs.FileSystem, indexDir: String): Unit = {
    val p = flagPath(indexDir)
    val tmp = new Path(indexDir, "format.props.tmp")
    val out = fs.create(tmp, true)
    out.write(s"formatVersion=$Version\n".getBytes(StandardCharsets.UTF_8))
    out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, fs.getConf)
    fc.rename(fc.makeQualified(tmp), fc.makeQualified(p),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The index's recorded format version; None when unflagged. */
  private def version(fs: org.apache.hadoop.fs.FileSystem, indexDir: String): Option[Int] = {
    val p = flagPath(indexDir)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    text.linesIterator.collectFirst { case l if l.startsWith("formatVersion=") =>
      l.stripPrefix("formatVersion=").trim.toIntOption }.flatten
  }

  /** Throws unless `indexDir` was written in the current format. */
  def requireCurrent(fs: org.apache.hadoop.fs.FileSystem, indexDir: String): Unit = {
    val v = version(fs, indexDir)
    if (!v.contains(Version))
      throw new IllegalStateException(s"index at $indexDir has segment format " +
        s"${v.fold("none (no format.props)")(_.toString)}, not $Version — rebuild it " +
        "with the current writer")
  }
}

/** Fielded keyword terms for ES bool-query filter context (the keyword
  * sub-field pattern: a metadata value is indexed as ONE posting per doc
  * in the same dictionary/postings as the text terms, namespaced so the
  * two can never collide — the analyzer emits only lowercase
  * alphanumeric tokens, never '#' or ':'). Values are indexed and
  * matched EXACTLY (not analyzed) — ES `keyword` / `term`-query
  * semantics. Enabled per-index via `IndexConfig.fieldCols`.
  */
object FieldTerms {
  /** Namespace marker — no analyzer token can start with it, so the
    * text and keyword namespaces are provably disjoint (and text-side
    * term expansion can exclude field terms with one prefix test).
    */
  val Prefix = "#"
  def term(field: String, value: String): String = Prefix + field + ":" + value

  /** Namespace marker of fielded ANALYZED text terms (`%field:token` —
    * the ES multi-field analyzed mapping: the reference indexes FOUR
    * analyzed text fields, mapping.json:12-17 catalog/volume plus
    * dynamic-mapped name/path populated at CsvReader.java:315-328, and
    * users query them independently or via `multi_match`). Like '#',
    * '%' cannot appear in analyzer output, so the main-text, keyword
    * and fielded-text namespaces are provably disjoint. The MAIN text
    * column's terms stay un-namespaced — [[textTerm]] maps field
    * "text" to the plain token, so `multi_match` can weight the main
    * field alongside the others.
    */
  val TextPrefix = "%"

  /** The dictionary term of analyzed `token` in `field` ("text" = the
    * main un-namespaced field).
    */
  def textTerm(field: String, token: String): String =
    if (field == "text") token else TextPrefix + field + ":" + token

  /** The text field a dictionary term belongs to: None = the main text
    * field (or a keyword/tier term — never scored per-field).
    */
  def textFieldOf(term: String): Option[String] =
    if (!term.startsWith(TextPrefix)) None
    else {
      val i = term.indexOf(':')
      if (i < 0) None else Some(term.substring(1, i))
    }

  /** Is the term in any fielded namespace (keyword '#' or text '%')?
    * Main-TEXT expansion (prefix/wildcard/fuzzy) must skip both — ES
    * keeps sub-fields out of analyzed-field term expansion.
    */
  def isNamespaced(term: String): Boolean =
    term.startsWith(Prefix) || term.startsWith(TextPrefix)

  /** Bare-token length of a dictionary term (the `len` dict column):
    * namespaced terms (`#field:v` / `%field:tok`) measure
    * the part after the FIRST ':' (analyzer tokens never contain ':',
    * so that colon is always the namespace separator; exists markers
    * `#field!` have none and fall back to full length — they never
    * join an edit-distance expansion). Stored at write time so fuzzy/
    * suggest dictionary scans push a plain int range filter to the
    * parquet reader — levenshtein ≥ |length difference|, so pruning to
    * |len − |w|| ≤ maxDist is exact — instead of evaluating the
    * distance over the entire vocabulary (round-6 review).
    */
  def bareLenCol(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{instr, length, when}
    when(term.startsWith(Prefix) || term.startsWith(TextPrefix),
      length(term) - instr(term, ":")).otherwise(length(term))
  }

  /** The exists-marker term of an indexed field — ES's `_field_names`
    * meta-field pattern (the `exists`/`missing` query is a term lookup
    * on it, never a doc-store scan): one tf=1 posting per doc that HAS
    * the field (non-null keyword/numeric value, ≥ 1 token for analyzed
    * text fields). '!' cannot appear in analyzer output and never
    * terminates the field name in the value (':'), tier ('@') or text
    * ('%…:') encodings, so the marker collides with nothing.
    */
  def existsTerm(field: String): String = Prefix + field + "!"

  /** Zero-padded encoding for NUMERIC keyword values: range filters
    * compare values lexicographically, which is exact only for
    * fixed-width encodings — encode non-negative numerics with this at
    * BOTH index time (a derived column listed in `fieldCols`) and
    * query time (`rangeFilters` bounds) and lexicographic order equals
    * numeric order. 19 digits covers the full non-negative Long range.
    */
  def numericValue(v: Long, width: Int = 19): String = {
    require(v >= 0, s"numericValue encodes non-negative values, got $v")
    val s = v.toString
    require(s.length <= width, s"$v does not fit width $width")
    "0" * (width - s.length) + s
  }

  // --- tiered numeric terms (scale-safe range filters) ---------------------
  // The classic numeric-trie / precision-step technique (Schindler &
  // Diepenbroek, Computers & Geosciences 2008; Lucene's pre-BKD
  // NumericRangeQuery): a non-negative long value is indexed once per
  // tier — tier l holds the value's high bits (v >>> TierStep·l) — so
  // ANY [lo, hi] range decomposes into ≤ 2·2^TierStep·(levels+1)
  // dictionary terms regardless of the field's value cardinality. This
  // replaces the uncapped per-distinct-value dictionary expansion for
  // high-cardinality numeric fields (timestamps, byte sizes — the
  // reference's `sizeInBytes`/`created` mapping.json:4-11,26-28 at
  // 10^12-doc scale): the driver never holds one TermStats per value,
  // and the filter clause's UnionCursor has a BOUNDED member count.

  /** Bits per tier (fanout 16). 4 balances postings written per value
    * (15 tier postings) against worst-case query expansion (≤ 512).
    */
  val TierStep = 4

  /** Highest tier level: v >>> 60 still distinguishes values; level 16
    * would be the constant 0 for every value (useless).
    */
  val MaxTierLevel = 15

  /** The tier term of `prefix` (= value >>> TierStep·level) at `level`.
    * '@' cannot appear in analyzer output, and the level digit makes
    * tiers of the same field mutually disjoint namespaces.
    */
  def tierTerm(field: String, level: Int, prefix: Long): String =
    Prefix + field + "@" + level + ":" + java.lang.Long.toHexString(prefix)

  /** Every term a numeric value is indexed under: the exact zero-padded
    * level-0 term (shared with the lexicographic `rangeFilters` path and
    * exact `term` filters) + one tier term per level.
    */
  def numericValueTerms(field: String, v: Long): Array[String] = {
    val out = new Array[String](MaxTierLevel + 1)
    out(0) = term(field, numericValue(v))
    var l = 1
    while (l <= MaxTierLevel) {
      out(l) = tierTerm(field, l, v >>> (TierStep * l))
      l += 1
    }
    out
  }

  /** Canonical trie decomposition of [lo, hi] (inclusive, non-negative):
    * the minimal boundary cells at each level — level-0 cells as exact
    * value terms, higher cells as tier terms. Any doc whose value lies
    * in the range carries EXACTLY ONE of the returned terms (cells are
    * disjoint and cover the range), so a UnionCursor over them is the
    * exact range predicate. |result| ≤ 2·(2^TierStep)·(MaxTierLevel+1).
    */
  def trieRangeTerms(field: String, lo0: Long, hi0: Long): Seq[String] = {
    require(lo0 >= 0 && hi0 >= 0, "tiered numeric terms encode non-negative values")
    if (lo0 > hi0) return Nil
    val out = Seq.newBuilder[String]
    def emit(level: Int, a: Long, b: Long): Unit = {
      var v = a
      while (v <= b) {
        out += (if (level == 0) term(field, numericValue(v)) else tierTerm(field, level, v))
        v += 1
      }
    }
    val fan = 1L << TierStep
    val mask = fan - 1
    var lo = lo0
    var hi = hi0
    var level = 0
    var done = false
    while (!done) {
      val hasLower = (lo & mask) != 0
      val hasUpper = (hi & mask) != mask
      val nextLo = if (hasLower) (lo >>> TierStep) + 1 else lo >>> TierStep
      val nextHi = if (hasUpper) (hi >>> TierStep) - 1 else hi >>> TierStep
      if (nextLo > nextHi || level >= MaxTierLevel) {
        // the remaining span fits within two parent cells (or the top
        // tier): emit it at this level and stop
        emit(level, lo, hi)
        done = true
      } else {
        if (hasLower) emit(level, lo, lo | mask)
        if (hasUpper) emit(level, hi & ~mask, hi)
        lo = nextLo
        hi = nextHi
        level += 1
      }
    }
    out.result()
  }
}

/** What an index holds and how it is cut up — never which build path
  * runs: [[IndexBuilder]] has one path (all buckets' blocks in one
  * fused job), and the only run-time choice, translate map vs string
  * join for the block pass, follows from the observed vocabulary
  * ([[IndexBuilder.translateFits]]).
  */
final case class IndexConfig(
    numBuckets: Int = 4,
    numShards: Int = 8,
    blockSize: Int = 128,
    salt: Int = 16,
    partitions: Int = 32,
    /** Store per-posting token positions (varint gap streams) in the
      * blocks — what makes phrase queries answerable (ES analyzed fields
      * record positions by default; reference parity). Costs ~1-2 bytes
      * per term OCCURRENCE through the shuffle and on disk; turn off for
      * builds that will never serve phrase/proximity queries.
      */
    storePositions: Boolean = true,
    /** Doc columns to additionally index as fielded keyword terms
      * (`#field:value`, one tf=1 posting per doc — [[FieldTerms]]) so
      * `Searcher.searchBool` can apply ES filter-context / must_not
      * clauses as posting-list intersections. Text-term statistics
      * (df/cf) and corpus stats (N, avgdl) are UNAFFECTED, so
      * scores with and without fieldCols are identical. Default off.
      */
    fieldCols: Seq[String] = Nil,
    /** NUMERIC doc columns (non-negative longs) to index with tiered
      * trie terms ([[FieldTerms.numericValueTerms]]): the exact
      * zero-padded `#field:value` term PLUS one `#field@l:prefix` term
      * per tier, so `searchBool(numericRangeFilters = …)` answers any
      * [lo, hi] range with a BOUNDED clause (≤ 2·16·16 terms) instead
      * of one dictionary term per distinct in-range value — the
      * scale-safe path for timestamps / byte sizes (round-3 review
      * "What's wrong #1"). Costs MaxTierLevel extra tf=1 postings per
      * doc per field; corpus/text stats remain untouched. Null or
      * negative values emit nothing (such docs never match a range
      * filter — ES missing-value semantics).
      */
    numericFieldCols: Seq[String] = Nil,
    /** Doc columns to index as ADDITIONAL analyzed text fields
      * (`%field:token` terms, [[FieldTerms.textTerm]]) — the ES
      * multi-field mapping (reference mapping.json:12-17 +
      * CsvReader.java:315-328). Each field gets its OWN BM25
      * statistics, exactly Lucene's per-field model: df per field
      * term, dl = the FIELD's token count (carried in the posting
      * payload), docCount = docs with ≥1 token in the field, avgdl =
      * Σ field dl / docCount — persisted under `fieldstats/` and used
      * at query time ([[graft.query.Searcher.searchField]] /
      * `multiMatch`). Main-text statistics and scores are UNAFFECTED
      * (the namespaces are disjoint; corpus N/avgdl come from the docs
      * phase alone). Default off.
      */
    textFieldCols: Seq[String] = Nil
)

object IndexConfig {
  /** Sizing rule (round-1 review: "name the rule"): buckets are the unit
    * of query parallelism AND of per-query-task block memory (a WAND
    * task materializes the query terms' blocks for ONE bucket), so they
    * must grow with the corpus — numBuckets = ceil(docs /
    * docsPerBucket), floored at min(4, cores) so small corpora still
    * exercise the per-bucket merge, capped at 4096. At 10^12 turns the
    * cap binds: 4096 buckets of ~244M docs each, with the (bucket ×
    * shard) grid — 4096 × 8 = 32k cells — and WAND's per-term docId
    * slices providing query fan-out beyond the bucket count; raising the
    * cap instead would push per-bucket dictionary/blockstats overhead
    * past its value. Results are bucket-count-invariant (EngineSpec pins
    * a 64-bucket build against the oracle).
    */
  def sized(nDocs: Long, cores: Int, docsPerBucket: Long = 16L << 20): IndexConfig = {
    val bySize = (nDocs + docsPerBucket - 1) / docsPerBucket
    val buckets = math.max(math.min(4, math.max(1, cores)), math.min(4096L, bySize).toInt)
    IndexConfig(numBuckets = buckets, partitions = math.max(1, cores))
  }
}

final case class BuildReport(
    n: Long,
    avgdl: Double,
    vocab: Long,
    postings: Long,
    bytesCompressed: Long,
    cellsBuilt: Seq[String],
    cellsSkipped: Seq[String]
)

/** Inverted-index build over `Dataset[Doc]` (SURVEY.md §2.1 S10 — the
  * index construction the reference delegates to Elasticsearch at bulk
  * time, BulkIndexer.java:48 + mapping.json, rebuilt Spark-native).
  *
  * Layout under `indexDir`:
  *   format.props          segment format flag ([[IndexFormat]])
  *   docs/                 docId-sorted doc store (meta + text)
  *   fieldstats/           per-field (docCount, Σdl) of textFieldCols
  *   dict/                 TermStats (termId, shard, df, cf) + bare-token len
  *   blocks/bucket=i/shard=j/   compressed PostingBlocks (Parquet)
  *   manifest/             one checkpoint file per cell (lineage, metrics
  *                         and the segment metadata every reader uses)
  *
  * The manifest is the only metadata: the `docs` cell holds n, avgdl,
  * the docId bounds and the doc store's schema; the `dict0` cell (the
  * dictionary phase, named for perfbench's per-layer attribution) holds
  * Σdf, the vocabulary and Σ term bytes; each `bucket=<b>` cell holds
  * its blocks' exact docId bounds. Readers trust these keys and never
  * scan a store for them.
  *
  * Scale design: buckets are contiguous docId ranges (≙ Lucene segments)
  * counted from the corpus' lowest docId, so per-term posting runs from
  * different buckets are docId-disjoint and WAND can treat their block
  * lists as one sorted list. Hot-term skew in
  * block building is defused structurally: block-encode partitions are
  * fixed docId slices of a bucket (closed-form routing — docIds are dense
  * with known bounds — so no range-sampling pass over the postings), and
  * a hot term therefore splits across ALL of its bucket's partitions (the
  * "salted-repartition merge" of the north rule — salt = docId range);
  * dictionary stats additionally go through an explicit two-phase salted
  * aggregation (groupBy(term, salt) partials → groupBy(term) final) so no
  * single reducer ever sees a whole hot term. Every cell write is an
  * idempotent per-directory overwrite; the manifest marks a cell done
  * only after the write commits, so a killed build resumes by skipping
  * done cells (north_rule resumability).
  *
  * At 10^12-turn scale the same plan holds: docs/blocks are partitioned
  * parquet/iceberg, every shuffle is keyed on (docId slice) or (term,
  * salt) — no global single-task stage and no sampling pass anywhere.
  *
  * One build path: each field kind has one posting generator, and the
  * blocks of all buckets are encoded in one phase. The only run-time
  * choice is how the block pass finds each posting's termId and df,
  * decided once per build from the vocabulary the dict0 write observed:
  * a broadcast translate map resolved inside the tokenize closure when
  * vocab · [[IndexBuilder.TranslateEntryBytes]] + Σ term bytes fits
  * 1/[[IndexBuilder.TranslateHeapShare]] of the smaller of the driver
  * and executor heaps ([[IndexBuilder.translateFits]]), else a join on
  * the term string (AQE-broadcast or shuffle by size) — same rows
  * either way. A resume over cells of another format fails at once
  * ([[IndexFormat.requireCurrent]]).
  */
class IndexBuilder(
    spark: SparkSession,
    indexDir: String,
    snapshotId: String,
    cfg: IndexConfig = IndexConfig()
) {
  import spark.implicits._

  private val root = new Path(indexDir)
  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def docsPath = s"$indexDir/docs"
  def fieldStatsPath = s"$indexDir/fieldstats"
  def blocksPath = s"$indexDir/blocks"
  def dictPath = s"$indexDir/dict"
  private def manifestDir = new Path(root, "manifest")

  // --- manifest (checkpoint) ---------------------------------------------
  private def cellFile(cell: String) = new Path(manifestDir, cell.replace('=', '-') + ".props")

  /** Writes the cell's props file; `extra` appends cell-specific keys
    * (the docs cell's corpus stats, the dict0 cell's dictionary statistics, a
    * bucket cell's docId bounds), read back by [[manifestProps]].
    * `wallSec` is printed zero-padded at a fixed width (µs digits), so
    * builds of one corpus write manifests of equal bytes however long
    * each cell took.
    */
  private[graft] def writeManifest(m: BuildManifest, extra: Seq[(String, Any)] = Nil): Unit = {
    fs.mkdirs(manifestDir)
    val tmp = new Path(manifestDir, cellFile(m.cell).getName + ".tmp")
    val out = fs.create(tmp, true)
    val body =
      s"""cell=${m.cell}
         |bucket=${m.bucket}
         |docIdLo=${m.docIdLo}
         |docIdHi=${m.docIdHi}
         |sourceSnapshotId=${m.sourceSnapshotId}
         |postingsEmitted=${m.postingsEmitted}
         |bytesCompressed=${m.bytesCompressed}
         |status=${m.status}
         |wallSec=${String.format(java.util.Locale.ROOT, "%013.6f", Double.box(m.wallSec))}
         |""".stripMargin + extra.map { case (k, v) => s"$k=$v\n" }.mkString
    out.write(body.getBytes(StandardCharsets.UTF_8))
    out.close()
    fs.delete(cellFile(m.cell), false)
    fs.rename(tmp, cellFile(m.cell))
  }

  /** A cell's props as key → value (empty when the cell is absent). */
  private def manifestProps(cell: String): Map[String, String] = {
    val p = cellFile(cell)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val bytes = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    var r = in.read(buf)
    while (r > 0) { bytes.write(buf, 0, r); r = in.read(buf) }
    in.close()
    bytes.toString("UTF-8").linesIterator.filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }.toMap
  }

  def readManifest(cell: String): Option[BuildManifest] = {
    val kv = manifestProps(cell)
    try Some(BuildManifest(kv("cell"), kv("bucket").toInt, kv("docIdLo").toLong,
      kv("docIdHi").toLong, kv("sourceSnapshotId"), kv("postingsEmitted").toLong,
      kv("bytesCompressed").toLong, kv("status"), kv("wallSec").toDouble))
    catch { case _: Exception => None }
  }

  /** A key of a cell the current writer always records; throws when it
    * is absent (a segment the format check let through but a crash or an
    * edit left incomplete).
    */
  private def required(cell: String, key: String): String =
    manifestProps(cell).getOrElse(key, throw new IllegalStateException(
      s"manifest cell '$cell' of $indexDir has no '$key' — rebuild the index"))

  /** The segment's corpus stats from its `docs` cell — `n` and `avgdl`
    * (printed by `Double.toString`, which parses back to the same bits)
    * — read with no Spark job.
    */
  def manifestStats: IndexStats =
    IndexStats(required("docs", "n").toLong, required("docs", "avgdl").toDouble,
      required("docs", "sourceSnapshotId"))

  /** (bucket, min firstDocId, max lastDocId) of every bucket holding
    * postings, from the bucket cells' `minDocId` / `maxDocId` keys — the
    * exact docId bounds of the bucket's blocks, read with no Spark job. A
    * cell with no postings has no bounds.
    */
  def manifestBucketRanges: Seq[(Int, Long, Long)] =
    cellNames.filter(_.startsWith("bucket=")).map(c => c -> manifestProps(c))
      .filter(_._2.get("postingsEmitted").forall(_ != "0")).map { case (c, kv) =>
        (kv("bucket").toInt, required(c, "minDocId").toLong, required(c, "maxDocId").toLong)
      }

  /** The doc store, read with the schema its `docs` cell records
    * (`schema`, a DDL string — no inference job). The store's columns are
    * the batch's, so this is the one store whose schema a reader cannot
    * declare.
    */
  def readDocs: DataFrame =
    spark.read.schema(StructType.fromDDL(required("docs", "schema"))).parquet(docsPath)

  /** The names of the cells the manifest dir holds. */
  private def cellNames: Seq[String] =
    if (!fs.exists(manifestDir)) Seq.empty
    else fs.listStatus(manifestDir).toSeq.map(_.getPath.getName).filter(_.endsWith(".props"))
      .map(_.stripSuffix(".props").replaceFirst("^bucket-", "bucket="))

  def allManifests: Seq[BuildManifest] = cellNames.flatMap(readManifest)

  /** Heap bytes the block phase's translate map may take: 1 /
    * [[IndexBuilder.TranslateHeapShare]] of the smaller of the driver
    * heap and the executor heap (one JVM in local mode). Tests override
    * it to force the join path.
    */
  protected def translateBudget: Long = {
    val sc = spark.sparkContext
    val driver = Runtime.getRuntime.maxMemory
    val executor =
      if (sc.isLocal) driver else sc.getConf.getSizeAsBytes("spark.executor.memory", "1g")
    math.min(driver, executor) / IndexBuilder.TranslateHeapShare
  }

  private def isDone(cell: String): Boolean =
    readManifest(cell).exists(m => m.status == "done" && m.sourceSnapshotId == snapshotId)

  // --- build phases --------------------------------------------------------

  /** Runs one field kind's per-doc loop over `src` and feeds each posting
    * it produces to the shared output step ([[PostingSink]]): a string
    * row (term, docId, tf, dl, pay) — or, with a `translate` map, the
    * resolved row (termId, docId, df, pay), looked up inside
    * this closure so no per-posting term string leaves it and the block
    * pass needs no join. `withPayload = false` skips the packed payload
    * (the dict0 pass only reads term/docId/tf: the payload is built in
    * a typed closure, so Catalyst could not prune it, and at ~40 M
    * postings/M-turns the dead encode was a measured allocation hot spot).
    * Per-partition imperative logic — the documented legitimate use of
    * typed mapPartitions. `accSize` is the initial size of the per-doc
    * term table: it fixes the table's iteration order, hence the order
    * postings are emitted in — which the dictionary's termIds derive
    * from.
    */
  private def generate[A](src: Dataset[A], withPayload: Boolean,
      translate: IndexBuilder.Translate, accSize: Int = 128)(
      loop: (A, PostingSink[_]) => Unit): DataFrame = {
    val withPos = cfg.storePositions && withPayload
    translate match {
      case Some(bc) =>
        src.mapPartitions { it =>
          new TranslatedSink(bc.value, withPayload, withPos, accSize).run(it, loop)
        }.toDF("termId", "docId", "df", "pay")
      case None =>
        src.mapPartitions(it => new StringSink(withPayload, withPos, accSize).run(it, loop))
          .toDF("term", "docId", "tf", "dl", "pay")
    }
  }

  /** Main-text postings — one row per distinct (term, doc). `dl` rides
    * along so no big doc-side join is ever needed (SURVEY.md A6). tf —
    * and, when cfg.storePositions, the term's token positions — are
    * aggregated PER DOC inside the narrow map pass: a document's tokens
    * are by definition co-located, so neither needs a shuffle or a
    * corpus-wide hash table. The packed payload (varint tf, varint dl,
    * position gaps — [[PosAcc.payload]]) lets the block shuffle carry ONE
    * ~3-byte binary instead of two 8-byte longs plus a position column
    * (round-3 scaling finding: 986 → 1386 B/turn once positions landed;
    * packing restores it). (Round-1 shape — explode + groupBy(term,
    * docId) — shuffled ~1 row per posting; measured 34 s of the 96 s
    * build at 1 M turns.)
    */
  def postingsOf(docs: DataFrame, withPayload: Boolean = true,
      translate: IndexBuilder.Translate = None): DataFrame = {
    val src = docs.select(col("docId"), col("dl"), col("text")).as[(Long, Int, String)]
    generate(src, withPayload, translate) { case ((id, dl, text), out) =>
      out.addTokens(id, Analyzer.tokenize(text), "", dl)
    }
  }

  /** One tf=1 posting per doc for a metadata column's exact value
    * ([[FieldTerms]] — ES keyword sub-field), plus the `_field_names`-
    * style exists marker. Null values emit nothing (a filter on the
    * field then never matches those docs — ES semantics).
    */
  def fieldPostingsOf(docs: DataFrame, field: String, withPayload: Boolean = true,
      translate: IndexBuilder.Translate = None): DataFrame = {
    val src = docs.select(col("docId"), col("dl"), col(field).cast("string")).as[(Long, Int, String)]
    generate(src, withPayload, translate) { case ((id, dl, v), out) =>
      if (v != null) out.addSingles(id, dl, Iterator(FieldTerms.term(field, v)), field)
    }
  }

  /** One tf=1 posting per (doc, tier) for a numeric column: the exact
    * zero-padded term plus every tier term
    * ([[FieldTerms.numericValueTerms]]) and the exists marker. Null or
    * negative values emit nothing.
    */
  def numericFieldPostingsOf(docs: DataFrame, field: String, withPayload: Boolean = true,
      translate: IndexBuilder.Translate = None): DataFrame = {
    val src = docs.select(col("docId"), col("dl"), col(field).cast("long"))
      .as[(Long, Int, Option[Long])]
    generate(src, withPayload, translate) {
      case ((id, dl, Some(v)), out) if v >= 0 =>
        out.addSingles(id, dl, FieldTerms.numericValueTerms(field, v).iterator, field)
      case _ =>
    }
  }

  /** Analyzed postings of an ADDITIONAL text field ([[FieldTerms
    * .textTerm]] namespace): the main-text per-doc pass, but dl in the
    * payload is the FIELD's token count — the per-field BM25 length norm
    * (Lucene's per-field model) — and the exists marker marks docs with
    * ≥ 1 token (the field's docCount, same rule as fieldstats). Null or
    * empty values emit nothing.
    */
  def textFieldPostingsOf(docs: DataFrame, field: String, withPayload: Boolean = true,
      translate: IndexBuilder.Translate = None): DataFrame = {
    val prefix = FieldTerms.textTerm(field, "")
    val src = docs.select(col("docId"), col(field).cast("string")).as[(Long, String)]
    generate(src, withPayload, translate, accSize = 32) { case ((id, v), out) =>
      val toks = if (v == null) Array.empty[String] else Analyzer.tokenize(v)
      if (toks.nonEmpty) {
        out.addTokens(id, toks, prefix, toks.length)
        out.addSingles(id, toks.length, Iterator.empty, field)
      }
    }
  }

  /** Text postings plus every configured field kind's postings, unioned
    * into one stream for the dict0 and block phases.
    */
  def allPostingsOf(docs: DataFrame, withPayload: Boolean = true,
      translate: IndexBuilder.Translate = None): DataFrame =
    (cfg.fieldCols.map(fieldPostingsOf(docs, _, withPayload, translate)) ++
      cfg.numericFieldCols.map(numericFieldPostingsOf(docs, _, withPayload, translate)) ++
      cfg.textFieldCols.map(textFieldPostingsOf(docs, _, withPayload, translate)))
      .foldLeft(postingsOf(docs, withPayload, translate))(_ unionByName _)

  /** Direct per-term df/cf (single hash agg — partial+final via Catalyst). */
  def dictDirect(postings: DataFrame): DataFrame =
    postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))

  /** Two-phase salted per-term df/cf: partial agg keyed on (term, salt)
    * bounds any reducer's share of a hot term to ~1/salt (north_rule
    * "salted-repartition merge"; SURVEY.md A9). Equality with dictDirect
    * is property-tested.
    */
  def dictSalted(postings: DataFrame, salt: Int): DataFrame =
    postings
      .groupBy(col("term"), pmod(hash(col("docId")), lit(salt)).as("s"))
      .agg(count(lit(1)).as("dfp"), sum(col("tf")).as("cfp"))
      .groupBy(col("term"))
      .agg(sum(col("dfp")).as("df"), sum(col("cfp")).as("cf"))

  def build(docsIn: Dataset[Doc], resume: Boolean = true): BuildReport =
    buildFrom(docsIn.toDF(), resume)

  /** Same build over an untyped frame: must carry the [[Doc]] columns
    * (docId, dl, text + metadata); extra columns ride the doc store and
    * become filterable when listed in `cfg.fieldCols`.
    */
  def buildFrom(docsFrame: DataFrame, resume: Boolean = true): BuildReport = {
    val docsIn = docsFrame
    val built = scala.collection.mutable.ArrayBuffer[String]()
    val skipped = scala.collection.mutable.ArrayBuffer[String]()
    // A fresh build stamps the format before it writes any cell, so the
    // flag always describes the cells beside it; a resume continues only
    // cells of the current format.
    if (!resume || allManifests.isEmpty) IndexFormat.write(fs, indexDir)
    else IndexFormat.requireCurrent(fs, indexDir)
    // One unit of work writing `cells` (skipped when all are done): its
    // jobs carry the label `graft build: <label>` (guide §1.5 —
    // thread-local, cleared even when the body throws), and the body
    // returns each cell's manifest with its extra keys; the unit's wall
    // time is split evenly over its cells.
    def phases(cells: Seq[String], label: String)(
        body: => Seq[(BuildManifest, Seq[(String, Any)])]): Unit =
      if (resume && cells.forall(isDone)) skipped ++= cells
      else {
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"graft build: $label")
        try {
          val ms = body
          val wall = (System.nanoTime() - t0) / 1e9 / ms.size
          for ((m, extra) <- ms) writeManifest(m.copy(wallSec = wall), extra)
          built ++= cells
        } finally spark.sparkContext.setJobDescription(null)
      }
    def phase(cell: String)(body: => BuildManifest): Unit =
      phases(Seq(cell), cell)(Seq(body -> Nil))

    // Phase A — doc store + corpus stats. Stats (n, avgdl, min and max
    // docId) ride the write job itself via the Observation API — no
    // second job re-reading the store (fixed per-build driver cost is
    // the term that caps small-corpus scaling efficiency).
    phases(Seq("docs"), "docs") {
      val obs = org.apache.spark.sql.Observation()
      docsIn.toDF()
        .observe(obs, count(lit(1)).as("n"), avg(col("dl")).as("avgdl"),
          min(col("docId")).as("mn"), max(col("docId")).as("mx"))
        .write.mode(SaveMode.Overwrite).parquet(docsPath)
      val row = obs.get
      val n = row("n").asInstanceOf[Long]
      val avgdl = Option(row("avgdl")).map(_.asInstanceOf[Double]).getOrElse(0.0)
      // [docIdLo, docIdHi) of the "docs" cell = the docIds' span, which
      // the buckets divide (docIds need not start at 0 or be dense: a
      // streaming segment's start at its batch's base)
      val lo = Option(row("mn")).map(_.asInstanceOf[Long]).getOrElse(0L)
      val bound = Option(row("mx")).map(_.asInstanceOf[Long] + 1L).getOrElse(0L)
      Seq(BuildManifest("docs", -1, lo, bound, snapshotId, n, 0, "done", 0) ->
        IndexBuilder.docsKeys(n, avgdl, docsIn.schema))
    }
    // Size file splits to the build parallelism: the tokenize stage's
    // task count is bounded by input splits, and its map-side partial
    // aggregation must fit each task's memory share. With the default
    // 128 MB splits, a ~1 GB doc store yields ~8 tasks regardless of
    // cores — measured as the scaling bottleneck (and the source of
    // nondeterministic hash-agg spills).
    val docsBytes = {
      val p = new Path(docsPath)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }
    val oldSplit = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    val targetSplit = math.max(4L << 20, math.min(128L << 20, docsBytes / (cfg.partitions * 3L)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", targetSplit.toString)
    try {

    val docs = readDocs
    val IndexStats(n, avgdl, _) = manifestStats
    if (n == 0) return BuildReport(0, 0.0, 0, 0, 0, built.toSeq, skipped.toSeq)
    val idLo = required("docs", "docIdLo").toLong
    val idBound = required("docs", "docIdHi").toLong
    val bucketWidth = math.max(1L, (idBound - idLo + cfg.numBuckets - 1) / cfg.numBuckets)

    // Phase A2 — per-field stats of the additional analyzed text fields
    // (docCount = docs with ≥1 token, Σ field dl): ONE narrow agg job
    // over the column-pruned doc store, persisted so query time reads a
    // handful of rows: query time scores field postings under THESE
    // stats (per-field BM25 — Lucene's model).
    if (cfg.textFieldCols.nonEmpty) phase("fieldstats") {
      val aggs = cfg.textFieldCols.flatMap { f =>
        val d = coalesce(Analyzer.dlCol(col(f).cast("string")), lit(0))
        Seq(coalesce(sum(d.cast("long")), lit(0L)).as(s"sum_$f"),
          count(when(d > lit(0), 1)).as(s"n_$f"))
      }
      val row = docs.agg(aggs.head, aggs.tail: _*).head()
      cfg.textFieldCols.zipWithIndex.map { case (f, i) =>
        (f, i + 1, row.getAs[Long](s"n_$f"), row.getAs[Long](s"sum_$f"))
      }.toDF("field", "fieldId", "ndocs", "sumdl")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(fieldStatsPath)
      BuildManifest("fieldstats", -1, 0, n, snapshotId, 0, 0, "done", 0)
    }
    // Phase B — the dictionary (global df/cf) via salted merge, plus
    // termId assignment (dictionary encoding), written once to dict/
    // (manifest cell and job label `dict0`). Every later
    // per-posting shuffle/sort/storage carries the 8-byte termId instead
    // of the term string — the round-1 scaling bottleneck was shuffle
    // bytes + string sort compares in the block range shuffle. Ids come
    // from monotonically_increasing_id(): unique (not dense — uniqueness
    // is all blocks need), assigned in the same codegen pass as the
    // aggregation, no extra job, no single-task stage; they are
    // materialized exactly once (this parquet write) so re-execution
    // nondeterminism cannot leak. The posting stream is NOT cached: the
    // two consumers (this pass, block encode) each re-derive it from the
    // columnar doc store — caching ~50 rows/turn costs more memory
    // traffic than the one narrow tokenize scan (~1-2 s/M turns) — and
    // this pass re-derives it payload-free.
    phases(Seq("dict0"), "dict0") {
      val numShards = cfg.numShards
      val obs = org.apache.spark.sql.Observation()
      dictSalted(allPostingsOf(docs, withPayload = false), cfg.salt)
        .as[(String, Long, Long)]
        .map { case (t, df, cf) => (t, GraftHash.shardOf(t, numShards), df, cf) }
        .toDF("term", "shard", "df", "cf")
        // termId PACKS the shard into its low end (id·numShards + shard,
        // still unique/opaque): the block shuffle can then re-derive
        // shard from termId AFTER the exchange instead of carrying a
        // fifth 8-byte UnsafeRow slot per posting (guide §2.3 — shuffle
        // fewer bytes). monotonically_increasing_id < 2^49 (16-bit
        // partition id · 33-bit counter) so the product cannot overflow
        // for any sane shard count.
        .withColumn("termId",
          monotonically_increasing_id() * lit(numShards.toLong) + col("shard"))
        // `len` (bare-token length) serves the edit-distance scan prune
        .select(col("term"), col("termId"), col("shard"), col("df"), col("cf"),
          FieldTerms.bareLenCol(col("term")).as("len"))
        // Σdf (the block phase's hot-term threshold), the vocabulary and
        // Σ term bytes (the translate gate) ride the write job and the
        // manifest — zero extra jobs, on resume too
        .observe(obs, count(lit(1)).as("vocab"), coalesce(sum(col("df")), lit(0L)).as("p"),
          coalesce(sum(octet_length(col("term"))), lit(0L)).as("tb"))
        .write.mode(SaveMode.Overwrite).parquet(dictPath)
      val row = obs.get
      // postingsEmitted = Σdf (the corpus posting count)
      Seq(BuildManifest("dict0", -1, 0, n, snapshotId, row("p").asInstanceOf[Long], 0, "done", 0) ->
        Seq("vocab" -> row("vocab").asInstanceOf[Long], "termBytes" -> row("tb").asInstanceOf[Long]))
    }
    val dict = spark.read.schema(IndexBuilder.DictSchema).parquet(dictPath)
    val totalPostings = required("dict0", "postingsEmitted").toLong

    // Phase C — compressed blocks of ALL buckets in ONE job: a single
    // closed-form shuffle on (bucket, term, docId) and a single
    // partitioned write. Each bucket keeps its manifest cell, but the
    // phase resumes all-buckets-or-none (at 10^12 turns run several
    // builds over docId sub-ranges).
    val blockSize = cfg.blockSize
    val bucketCells = (0 until cfg.numBuckets).map(b => s"bucket=$b")
    phases(bucketCells, "blocks") {
      val vocab = required("dict0", "vocab").toLong
      val termBytes = required("dict0", "termBytes").toLong
      // term→(termId, df) TRANSLATE map when it fits the heap
      // budget (IndexBuilder.translateFits): the posting generators then
      // resolve ids inside the tokenize closure and the string join
      // disappears from the plan (its probe — UnsafeRow key encode +
      // BytesToBytesMap lookup + arrayEquals per posting — was ~24% of
      // build executor CPU, round-9 JFR). Over the budget, the join
      // (AQE: broadcast or shuffle by size).
      val translate: IndexBuilder.Translate =
        if (!IndexBuilder.translateFits(vocab, termBytes, translateBudget)) None
        else {
          val rows = dict.select(col("term"), col("termId"), col("df"))
            .as[(String, Long, Long)].collect()
          val m = new java.util.HashMap[String, Array[Long]](rows.length * 2)
          rows.foreach { case (t, tid, df) => m.put(t, Array(tid, df)) }
          Some(spark.sparkContext.broadcast(m))
        }
      try {
        // Shuffle schema is deliberately minimal: (termId, docId, df) +
        // the packed payload binary (varint tf + dl + position gaps,
        // built in the tokenize pass). No term string (dict-encoded), no
        // shard (packed into termId, re-derived after the exchange), no
        // score (blocks store none), no fixed-width tf/dl fields (each
        // ~1 varint byte in the payload vs 8-byte UnsafeRow slots). df
        // only routes hot terms (below); it is run-constant per term, so
        // it lz4-compresses to ~nothing in the sorted shuffle.
        val postings = (translate match {
          case Some(_) => allPostingsOf(docs, translate = translate)
          case None => allPostingsOf(docs).join(
            dict.select(col("term"), col("termId"), col("df")), Seq("term"))
        }).select(col("termId"), col("docId"), col("df"), col("pay"))
        // Partition routing is CLOSED-FORM and df-AWARE — no
        // repartitionByRange sampling pass (which re-executed the whole
        // posting stream):
        //   cold terms (df < hotDf): term-major — all of a term's postings
        //     in a bucket land in ONE partition (pmod(hash(termId), ppb)),
        //     so block lists stay compact (~df/blockSize blocks). No cold
        //     term can skew a partition: its posting share is bounded by
        //     hotDf/totalPostings ≤ 1/(4·numParts).
        //   hot terms (df ≥ hotDf): docId-sliced across ALL of the
        //     bucket's partitions (the north-rule "salted-repartition
        //     merge", salt = docId range) — a stopword-class term can
        //     never serialize on one reducer, and with hotDf ≥
        //     numParts·blockSize every slice still fills whole blocks.
        // Within a partition, sort on (termId, docId) restores term runs;
        // across partitions a hot term's runs are docId-disjoint slices —
        // exactly the invariant WAND needs of its block lists.
        // Partition count is sized to per-task SORT memory, not to cores:
        // each partition's postings are sorted in executor memory, so a
        // partition must stay ~targetSortBytes regardless of parallelism
        // (round-2 finding: partitions = cores made high-core runs spill
        // — ~64 B/posting in the sorter — while low-core runs of the same
        // corpus fit, silently skewing the N-vs-4N comparison). cores only
        // set the FLOOR so all slots stay busy. Clamped to the
        // inverse-key-table cap (DirectPartition.MaxParts); past it,
        // partitions exceed targetSortBytes and the external sorter
        // spills — graceful, and 64k × 128 MB already covers ~10^11
        // postings per build.
        val sortBytesPerPosting = 64L
        val targetSortBytes = 128L << 20
        val neededParts = math.min(DirectPartition.MaxParts.toLong,
          1L + totalPostings * sortBytesPerPosting / targetSortBytes).toInt
        val partsPerBucket = math.max(1, math.min(
          DirectPartition.MaxParts / cfg.numBuckets,
          math.max(cfg.partitions, neededParts) / cfg.numBuckets))
        val subWidth = math.max(1L, (bucketWidth + partsPerBucket - 1) / partsPerBucket)
        val numParts = cfg.numBuckets * partsPerBucket
        val hotDf = math.max(numParts.toLong * blockSize,
          totalPostings / (4L * math.max(1, numParts)))
        // bucket never rides the shuffled rows: the pid expression derives
        // it from docId (closed form), every resulting partition is
        // single-bucket, and the encoder re-derives it from
        // (docId − idLo) / bucketWidth.
        val offset = col("docId") - lit(idLo)
        val bucketExpr = least(floor(offset / lit(bucketWidth)), lit(cfg.numBuckets - 1L))
        val slicePid = least(
          floor((offset - bucketExpr * lit(bucketWidth)) / lit(subWidth)),
          lit(partsPerBucket - 1L))
        val pid = bucketExpr * lit(partsPerBucket) +
          when(col("df") >= lit(hotDf), slicePid)
            .otherwise(pmod(hash(col("termId")), lit(partsPerBucket)))
        val nBuckets = cfg.numBuckets // local copy: the closure must not capture `this`
        val bw = bucketWidth
        val lo = idLo
        // shard re-attached post-exchange (a Project above the sort — row
        // order within partitions is preserved); encoder tuple order is
        // (termId, shard, docId, pay)
        val blocks = DirectPartition.byComputedPid(postings, pid, numParts)
          .sortWithinPartitions(col("termId"), col("docId"))
          .select(col("termId"),
            pmod(col("termId"), lit(cfg.numShards.toLong)).cast("int").as("shard"),
            col("docId"), col("pay"))
          .as[BlockEncoder.Row]
          .mapPartitions(rows => BlockEncoder.encodeFused(rows, blockSize, lo, bw, nBuckets))
        // ONE pass, no cache: the encoded blocks flow straight into the
        // parquet write, carrying a precomputed per-block byte count
        // (`nbytes`), and the manifest metrics aggregate from a
        // COLUMN-PRUNED read of the just-written store (bucket/count/
        // nbytes) instead of a persist of the whole encoded index
        // (guide §5). Readers bind block columns by name, so the extra
        // column is invisible to them; compaction re-selects named
        // columns and drops it.
        blocks
          .withColumn("nbytes", length(col("docs")) + length(col("tfs"))
            + length(col("dls")) + length(col("poss")))
          .write.partitionBy("bucket", "shard")
          .mode(SaveMode.Overwrite).parquet(blocksPath)
      } finally translate.foreach(_.unpersist(false))
      // per-bucket manifest metrics and exact docId bounds: one groupBy
      // over the just-written blocks' columns (round-2 review: an
      // Observation with 2×numBuckets conditional sums is an
      // 8192-expression CollectMetrics at the sized() bucket cap —
      // evaluated per row)
      val perBucket = IndexBuilder.bucketMetrics(
        spark.read.schema(IndexBuilder.BlocksSchema).parquet(blocksPath), col("nbytes"))
      for (b <- 0 until cfg.numBuckets) yield {
        val lo = idLo + b.toLong * bucketWidth
        val m = perBucket.get(b)
        BuildManifest(s"bucket=$b", b, lo, math.min(idBound, lo + bucketWidth), snapshotId,
          m.fold(0L)(_.postings), m.fold(0L)(_.bytes), "done", 0) ->
          m.fold(Seq.empty[(String, Any)])(_.keys)
      }
    }

    val ms = allManifests
    BuildReport(
      n, avgdl,
      required("dict0", "vocab").toLong,
      ms.filter(_.cell.startsWith("bucket=")).map(_.postingsEmitted).sum,
      ms.filter(_.cell.startsWith("bucket=")).map(_.bytesCompressed).sum,
      built.toSeq, skipped.toSeq
    )

    } finally oldSplit match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }
}

object IndexBuilder {
  /** Declared schemas of the stores with a fixed layout. Readers pass
    * them to `spark.read.schema`, so opening a store infers nothing
    * (parquet schema inference is one Spark job per store). `bucket` and
    * `shard` of the blocks are partition columns.
    */
  val FieldStatsSchema: StructType = StructType.fromDDL(
    "field STRING, fieldId INT, ndocs BIGINT, sumdl BIGINT")
  val DictSchema: StructType = StructType.fromDDL(
    "term STRING, termId BIGINT, shard INT, df BIGINT, cf BIGINT, len INT")
  val BlocksSchema: StructType = StructType.fromDDL(
    "termId BIGINT, blockId INT, firstDocId BIGINT, lastDocId BIGINT, count INT, " +
      "docs BINARY, tfs BINARY, dls BINARY, poss BINARY, nbytes INT, bucket INT, shard INT")

  /** The `docs` cell's extra keys: corpus stats (`n`, `avgdl`,
    * [[IndexBuilder.manifestStats]]) and the doc store's schema as DDL
    * (`schema`, [[IndexBuilder.readDocs]]; every column nullable, as
    * parquet reads it back).
    */
  def docsKeys(n: Long, avgdl: Double, docs: StructType): Seq[(String, Any)] =
    Seq("n" -> n, "avgdl" -> avgdl,
      "schema" -> StructType(docs.fields.map(_.copy(nullable = true))).toDDL)

  /** A bucket's manifest metrics: postings, compressed bytes, and the
    * exact docId bounds of its blocks (min firstDocId / max lastDocId).
    */
  final case class BucketMetrics(postings: Long, bytes: Long, minDocId: Long, maxDocId: Long) {
    /** The bucket cell's extra keys ([[IndexBuilder.manifestBucketRanges]]). */
    def keys: Seq[(String, Any)] = Seq("minDocId" -> minDocId, "maxDocId" -> maxDocId)
  }

  /** [[BucketMetrics]] of every bucket holding blocks, in one job;
    * `nbytes` is a block's compressed bytes.
    */
  def bucketMetrics(blocks: DataFrame, nbytes: Column): Map[Int, BucketMetrics] =
    blocks.groupBy(col("bucket"))
      .agg(sum(col("count")).as("p"), sum(nbytes).as("y"),
        min(col("firstDocId")).as("lo"), max(col("lastDocId")).as("hi"))
      .collect().map(r => r.getInt(0) ->
        BucketMetrics(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  /** Broadcast dict0 translate map: term → [termId, df]
    * (see [[translateFits]]). None = use the join path.
    */
  type Translate =
    Option[org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, Array[Long]]]]

  /** Loud-guard translate lookup: every generated term MUST be in dict0
    * (both derive from the same deterministic posting stream); a miss
    * means the docs or config diverged from the dictionary's lineage,
    * and silently dropping the posting would corrupt the index.
    */
  def resolved(m: java.util.HashMap[String, Array[Long]], term: String): Array[Long] = {
    val v = m.get(term)
    if (v == null) throw new IllegalStateException(
      s"term '$term' is absent from the dict0 translate map — the posting stream " +
        "diverged from the dictionary lineage (rebuild without resume)")
    v
  }

  /** Heap bytes per translate-map entry besides its term's bytes:
    * `HashMap.Node` + `String` + `byte[]` header + the `long[2]` value +
    * its table slot. Measured once on JDK 17 (compressed oops, compact
    * strings) as the heap delta of maps with 10^5, 10^6 and 3·10^6
    * entries when the value was a `long[3]`: 122–125 B/entry; the
    * `long[2]` value is 8 B smaller, so 128 B stays an upper bound.
    */
  val TranslateEntryBytes = 128L

  /** The share of the smaller heap the translate map may take: 1/8
    * leaves room for the collected rows it is built from, its
    * serialized broadcast blocks and the tasks running beside it.
    */
  val TranslateHeapShare = 8L

  /** The translate gate: does a map of `vocab` terms totalling
    * `termBytes` UTF-8 bytes (both recorded in the dict0 cell) fit
    * `budget` bytes? Estimated footprint = vocab · [[TranslateEntryBytes]]
    * + termBytes.
    */
  def translateFits(vocab: Long, termBytes: Long, budget: Long): Boolean =
    vocab * TranslateEntryBytes + termBytes <= budget
}

/** Reusable per-(doc, term) position accumulator for the tokenize pass:
  * a growable int list with a direct packed-payload encoder.
  */
private[index] final class PosAcc {
  var n: Int = 0
  private var buf: Array[Int] = _
  def add(p: Int): Unit = {
    if (buf == null) buf = new Array[Int](4)
    else if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
    buf(n) = p
    n += 1
  }

  /** Packed posting payload: varint(tf), varint(dl), then the varint
    * position GAP stream (first absolute, then deltas — tf entries, so
    * no length prefix is needed; [[Codec.unpackPayload]] is the inverse).
    * Encoded here, in the tokenize pass, so the block shuffle carries one
    * ~3-byte binary per posting instead of fixed-width tf/dl columns plus
    * a separate position array.
    */
  def payload(dl: Int, withPos: Boolean): Array[Byte] = {
    // exact-size two-pass fill (Codec.varLen/putVar) — this runs once
    // per posting in the tokenize pass; the former per-call
    // ByteArrayOutputStream (synchronized writes + grow + toByteArray
    // copy) was measurable allocation churn at ~40 M postings/M-turns.
    // Bytes produced are identical.
    var sz = Codec.varLen(n.toLong) + Codec.varLen(dl.toLong)
    if (withPos) {
      var prev = 0
      var i = 0
      while (i < n) { sz += Codec.varLen((buf(i) - prev).toLong); prev = buf(i); i += 1 }
    }
    val a = new Array[Byte](sz)
    var off = Codec.putVar(a, 0, n.toLong)
    off = Codec.putVar(a, off, dl.toLong)
    if (withPos) {
      var prev = 0
      var i = 0
      while (i < n) {
        off = Codec.putVar(a, off, (buf(i) - prev).toLong)
        prev = buf(i)
        i += 1
      }
    }
    a
  }
}

private[index] object PosAcc {
  /** The tf=1 posting at position 0: every keyword, numeric-tier and
    * exists-marker posting.
    */
  def single(): PosAcc = { val a = new PosAcc; a.add(0); a }
}

/** The shared output step of [[IndexBuilder]]'s posting generators: a
  * field kind's per-doc loop hands it the doc's postings and [[row]]
  * turns each (term, tf, dl, payload) into the stream's row. One
  * instance per partition; a doc's rows are buffered and drained before
  * the next doc is read.
  */
private[index] abstract class PostingSink[R](withPayload: Boolean, withPos: Boolean,
    accSize: Int) {
  private val buf = new scala.collection.mutable.ArrayBuffer[R](64)
  // per-doc term table, reused via clear()
  private val acc = new java.util.HashMap[String, PosAcc](accSize)
  private val one = PosAcc.single()

  protected def row(term: String, docId: Long, tf: Int, dl: Int, pay: Array[Byte]): R

  private def pay(a: PosAcc, dl: Int): Array[Byte] =
    if (withPayload) a.payload(dl, withPos) else Array.emptyByteArray

  /** One posting per distinct token of a doc (term = prefix + token),
    * with its tf and, when stored, its positions.
    */
  def addTokens(docId: Long, toks: Array[String], prefix: String, dl: Int): Unit = {
    acc.clear()
    var i = 0
    while (i < toks.length) {
      val prev = acc.get(toks(i))
      val a = if (prev == null) { val p = new PosAcc; acc.put(toks(i), p); p } else prev
      if (withPos) a.add(i) else a.n += 1
      i += 1
    }
    val entries = acc.entrySet().iterator()
    while (entries.hasNext) {
      val e = entries.next()
      val term = if (prefix.isEmpty) e.getKey else prefix + e.getKey
      buf += row(term, docId, e.getValue.n, dl, pay(e.getValue, dl))
    }
  }

  /** tf=1 postings of `terms`, then `field`'s exists marker
    * ([[FieldTerms.existsTerm]]), all sharing one payload.
    */
  def addSingles(docId: Long, dl: Int, terms: Iterator[String], field: String): Unit = {
    val p = pay(one, dl)
    terms.foreach(t => buf += row(t, docId, 1, dl, p))
    buf += row(FieldTerms.existsTerm(field), docId, 1, dl, p)
  }

  def run[A](it: Iterator[A], loop: (A, PostingSink[_]) => Unit): Iterator[R] =
    it.flatMap { a => buf.clear(); loop(a, this); buf }
}

/** String rows (term, docId, tf, dl, pay): the dict0 pass and the join. */
private[index] final class StringSink(withPayload: Boolean, withPos: Boolean, accSize: Int)
    extends PostingSink[(String, Long, Int, Int, Array[Byte])](withPayload, withPos, accSize) {
  protected def row(term: String, docId: Long, tf: Int, dl: Int, pay: Array[Byte]) =
    (term, docId, tf, dl, pay)
}

/** Resolved rows (termId, docId, df, pay) through the broadcast
  * translate map ([[IndexBuilder.resolved]]).
  */
private[index] final class TranslatedSink(m: java.util.HashMap[String, Array[Long]],
    withPayload: Boolean, withPos: Boolean, accSize: Int)
    extends PostingSink[(Long, Long, Long, Array[Byte])](withPayload, withPos, accSize) {
  protected def row(term: String, docId: Long, tf: Int, dl: Int, pay: Array[Byte]) = {
    val r = IndexBuilder.resolved(m, term)
    (r(0), docId, r(1), pay)
  }
}

/** Streaming run-grouping block encoder: consumes (termId, shard, docId,
  * pay) rows sorted by (termId, docId) and emits compressed blocks,
  * holding at most `blockSize` postings in memory at a time. `pay` is
  * the tokenize pass's packed payload (varint tf + dl + position gaps,
  * PosAcc.payload) — unpacked here, after the shuffle. Nothing is
  * scored: blocks store tf and dl, and queries score them under the
  * current stats.
  */
object BlockEncoder {

  /** One shuffled posting row: (termId, shard, docId, pay). */
  type Row = (Long, Int, Long, Array[Byte])

  /** Fused-mode encoder: rows sorted by (termId, docId). The bucket is
    * NOT carried in the rows — it is re-derived from docId (buckets are
    * fixed docId ranges of `bucketWidth` from `docIdLo`). Runs are
    * grouped on (termId, bucket); docId-sorted order makes bucket
    * monotonic within a termId run, so both are contiguous.
    */
  def encodeFused(
      rows: Iterator[Row],
      blockSize: Int,
      docIdLo: Long,
      bucketWidth: Long,
      numBuckets: Int
  ): Iterator[PostingBlock] = {
    def bucketOf(docId: Long): Int =
      math.min((docId - docIdLo) / bucketWidth, (numBuckets - 1).toLong).toInt
    val grouped = new Iterator[Iterator[PostingBlock]] {
      private val it = rows.buffered
      override def hasNext: Boolean = it.hasNext
      override def next(): Iterator[PostingBlock] = {
        val termId = it.head._1
        val bucket = bucketOf(it.head._3)
        val run = new scala.collection.mutable.ArrayBuffer[Row]()
        while (it.hasNext && it.head._1 == termId && bucketOf(it.head._3) == bucket)
          run += it.next()
        encode(run.iterator, bucket, blockSize)
      }
    }
    grouped.flatten
  }

  def encode(
      rows: Iterator[Row],
      bucket: Int,
      blockSize: Int
  ): Iterator[PostingBlock] = new Iterator[PostingBlock] {
    private val it = rows.buffered
    private var out: Iterator[PostingBlock] = Iterator.empty

    private def fill(): Unit = {
      while (!out.hasNext && it.hasNext) {
        val termId = it.head._1
        val shard = it.head._2
        val ids = new scala.collection.mutable.ArrayBuffer[Long](blockSize)
        val tfs = new scala.collection.mutable.ArrayBuffer[Int](blockSize)
        val dls = new scala.collection.mutable.ArrayBuffer[Int](blockSize)
        val pss = new scala.collection.mutable.ArrayBuffer[Array[Byte]](blockSize)
        val acc = new scala.collection.mutable.ArrayBuffer[PostingBlock]()
        var blockId = 0
        def flush(): Unit = if (ids.nonEmpty) {
          acc ++= Codec.encodeBlocks(termId, shard, bucket,
            ids.toArray, tfs.toArray, dls.toArray, pss.toArray, blockSize)
            .map(_.copy(blockId = blockId))
          blockId += 1
          ids.clear(); tfs.clear(); dls.clear(); pss.clear()
        }
        while (it.hasNext && it.head._1 == termId) {
          val r = it.next()
          val (tf, dl, pos) = Codec.unpackPayload(r._4)
          ids += r._3; tfs += tf; dls += dl; pss += pos
          if (ids.length == blockSize) flush()
        }
        flush()
        out = acc.iterator
      }
    }
    override def hasNext: Boolean = { fill(); out.hasNext }
    override def next(): PostingBlock = { fill(); out.next() }
  }
}
