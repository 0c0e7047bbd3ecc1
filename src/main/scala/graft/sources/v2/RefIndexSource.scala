package graft.sources.v2

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DATASOURCE V2 reader for the REFERENCE ENGINE'S OWN on-disk index
  * format — the interop path that lets a user of the reference point
  * this engine at an existing `./index/` directory and query it without
  * conversion. The format (`/root/reference/helper_reduce.c:238-256`):
  * 26 text files named `a`…`z`, one posting per line, `term doc count`
  * space-separated, routed by the term's first letter.
  *
  * The source implements the full V2 pushdown surface:
  *  - `SupportsPushDownFilters`: `term = 'x…'` / `term IN (…)` /
  *    `term LIKE 'x%'` conjuncts prune to the matching LETTER FILES at
  *    planning time — `planInputPartitions` simply never lists the other
  *    25 files, the exact seek the reference hand-codes
  *    (`helper_reduce.c:291` opens `./index/<c>` for a query). All
  *    filters are also returned as residuals so Spark re-applies them —
  *    pruning is a superset optimization, never a correctness gamble.
  *  - `SupportsPushDownRequiredColumns`: per-line parsing materializes
  *    only the projected columns.
  *
  * Surviving letter files are further split into NEWLINE-ALIGNED
  * byte ranges (`splitBytes` reader option, default 32 MiB) — the same
  * within-file split the reference's own mapper performs at word
  * boundaries (`/root/reference/worker.c:210-220`), so scan parallelism
  * is sized by data volume, not capped at 26 by the file-per-letter
  * layout. Range semantics are the classic text-split contract: a
  * non-zero-offset reader discards its first (partial) line, every
  * reader reads THROUGH its end to finish the last line it started —
  * each line is read exactly once.
  */
class RefIndexSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RefIndexSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new RefIndexTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft ref-index source requires option(\"path\", dir)")))

  override def supportsExternalMetadata(): Boolean = true
}

object RefIndexSource {
  /** Default byte-range split size for letter files (32 MiB) — small
    * enough that a skew-letter file fans out across executors, large
    * enough that per-split setup stays noise.
    */
  val DefaultSplitBytes: Long = 32L << 20

  /** `first_letter` is part of the table schema (derived from the file
    * name on read) so the V2 WRITE can require a clustered distribution
    * on an input column — each letter lands in exactly one task, which
    * is what makes the one-file-per-letter format writable in parallel.
    */
  val schema: StructType = StructType(Seq(
    StructField("first_letter", StringType, nullable = false),
    StructField("term", StringType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("tf", LongType, nullable = false)))

  /** First code point of each letter implied by a term-equality-ish
    * filter, or None when the filter gives no letter bound.
    */
  private[v2] def lettersOf(f: Filter): Option[Set[String]] = {
    def firstCp(s: String): Option[String] =
      if (s == null || s.isEmpty) None
      else Some(s.substring(0, s.offsetByCodePoints(0, 1)))
    f match {
      case EqualTo("term", v: String) => firstCp(v).map(Set(_))
      case EqualTo("first_letter", v: String) => firstCp(v).map(Set(_))
      case StringStartsWith("term", p) => firstCp(p).map(Set(_))
      case In(c, vs) if c == "term" || c == "first_letter" =>
        val ls = vs.toSeq.map {
          case s: String => firstCp(s)
          case _ => None
        }
        // one unboundable element (empty/null/non-string) voids the set
        if (ls.exists(_.isEmpty)) None else Some(ls.flatten.toSet)
      case _ => None
    }
  }
}

class RefIndexTable(path: String) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft_ref_index($path)"
  override def schema(): StructType = RefIndexSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RefIndexScanBuilder(path,
      math.max(1L, options.getLong("splitBytes", RefIndexSource.DefaultSplitBytes)))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder =
    new RefIndexWriteBuilder(path, info.schema())
}

class RefIndexScanBuilder(path: String, splitBytes: Long)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private var letterSets: Seq[Set[String]] = Seq.empty
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = RefIndexSource.schema
  private var limit: Option[Int] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val derived = filters.flatMap(f => RefIndexSource.lettersOf(f).map(f -> _))
    letterSets = derived.map(_._2).toSeq
    pushed = derived.map(_._1)
    filters // every filter stays a residual — Spark re-applies them all
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** LIMIT pushdown: each partition reader stops after `n` lines instead
    * of draining its whole byte range — a `LIMIT k` probe of a terabyte
    * index reads at most k lines per split. `isPartiallyPushed` stays at
    * its default (true), so Spark keeps the global LIMIT over the
    * per-partition prefixes — a pure stop-early optimization, never a
    * correctness transfer.
    */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true
  }

  override def build(): Scan = {
    // conjunction of filters → intersection of their letter supersets
    val letters = letterSets.reduceOption(_ intersect _)
    new RefIndexScan(path, letters, required, splitBytes, limit)
  }
}

class RefIndexScan(path: String, letters: Option[Set[String]],
                   required: StructType, splitBytes: Long,
                   limit: Option[Int] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics with SupportsReportPartitioning {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The format IS key-partitioned — one file per first_letter — so the
    * scan reports a KeyGroupedPartitioning on that column: with
    * `spark.sql.sources.v2.bucketing.enabled` a groupBy/join keyed on
    * first_letter consumes the letter files in place (byte-range splits
    * of one letter are grouped into one task) and the exchange disappears
    * — the V2 analogue of bucketed tables, exchange-free-asserted in
    * RefIndexSourceSpec. Each InputPartition carries its letter as the
    * partition key ([[RefIndexInputPartition.partitionKey]]).
    *
    * Reported ONLY when the session has v2 bucketing ON: once a scan
    * reports key grouping, Spark collapses same-key splits into one task
    * unconditionally — which silently reinstates the 26-task ceiling the
    * byte-range splits exist to remove. Grouping is the bucketed-table
    * trade (no exchange, but a letter's splits run serially); the session
    * opts in per workload, the source must not impose it.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val bucketing = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    if (bucketing)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.identity("first_letter")),
        planInputPartitions().length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }
  override def description(): String =
    s"graft_ref_index path=$path prunedLetters=${letters.map(_.toSeq.sorted.mkString(",")).getOrElse("*")} splitBytes=$splitBytes limit=${limit.getOrElse(-1)}"

  /** Size statistics from the PRUNED letter-file list — without this a V2
    * relation reports `spark.sql.defaultSizeInBytes` (effectively ∞), so
    * a join against the ref index would never broadcast it even when the
    * pruned scan is a few KB. Text bytes understate the unserialized row
    * width, so a conservative row-expansion factor keeps the estimate
    * honest enough for broadcast decisions without inviting OOM.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = prunedFiles().map(_.length()).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, bytes * 3))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty() // would need a line count — not free
  }

  private def prunedFiles(): Array[java.io.File] = {
    val dir = new java.io.File(path)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.length == 1)
      .filter(f => letters.forall(_.contains(f.getName)) &&
        runtimeLetters.forall(_.contains(f.getName)))
      .sortBy(_.getName)
  }

  // ——— RUNTIME filtering (the V2 analogue of dynamic partition
  // pruning): when this scan is the fact side of a join on first_letter
  // and the dim side is selective, Spark evaluates the dim FIRST and
  // hands the surviving letter values here as an In filter —
  // planInputPartitions then never lists the other letter files. Static
  // pushdown ([[RefIndexScanBuilder.pushFilters]]) needs the letters in
  // the query text; this prunes on letters only the DATA knows.
  private var runtimeLetters: Option[Set[String]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("first_letter"))

  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.flatMap(RefIndexSource.lettersOf).toSeq
    if (sets.nonEmpty) {
      runtimeLetters = Some(sets.reduce(_ intersect _))
      RefIndexScan.lastRuntimeLetters = runtimeLetters // spec introspection
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    prunedFiles()
      .flatMap { f =>
        // newline-aligned byte ranges within each letter file — the
        // reference's own within-file split (worker.c:210-220), so a
        // skewed letter fans out instead of capping parallelism at 26
        val len = f.length()
        val n = math.max(1L, (len + splitBytes - 1) / splitBytes)
        (0L until n).map { i =>
          val s = i * splitBytes
          RefIndexInputPartition(f.getAbsolutePath, s,
            math.min(splitBytes, len - s)): InputPartition
        }
      }

  override def createReaderFactory(): PartitionReaderFactory =
    new RefIndexReaderFactory(required, limit)
}

object RefIndexScan {
  /** The letter set delivered by the most recent runtime filter() in this
    * process — test-only introspection (the honest-disclosure pattern of
    * Clustering.lastEnsureWasCacheHit), never read by the engine.
    */
  @volatile private[graft] var lastRuntimeLetters: Option[Set[String]] = None
}

case class RefIndexInputPartition(file: String, start: Long, length: Long)
    extends InputPartition with HasPartitionKey {
  /** The letter this split belongs to (= the file's single-char name) —
    * what lets Spark group same-letter byte ranges into one key-grouped
    * task when the scan's partitioning is consumed.
    */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(new java.io.File(file).getName)))
}

class RefIndexReaderFactory(required: StructType, limit: Option[Int])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RefIndexInputPartition]
    new RefIndexPartitionReader(p.file, p.start, p.length, required, limit)
  }
}

// ——— V2 WRITE: the distributed producer of the reference format ———

/** The write half of the interop: `RequiresDistributionAndOrdering`
  * demands a first_letter-CLUSTERED distribution (each letter lands in
  * exactly one task, so the one-file-per-letter format is writable in
  * parallel with no cross-task conflicts) and a (term, doc_id) sort
  * within partitions (deterministic, reference-style sorted files —
  * the reference sorts each reduce output, `helper_reduce.c:153`).
  * Tasks write dot-prefixed temp files next to the target (invisible to
  * the reader's single-char filter) and the driver's commit renames
  * them into place — the classic two-phase commit of a file sink.
  */
class RefIndexWriteBuilder(path: String, writeSchema: StructType)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new RefIndexWrite(path, writeSchema, doTruncate)
}

class RefIndexWrite(path: String, writeSchema: StructType, truncate: Boolean)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.identity("first_letter")))
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("term"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column("doc_id"), SortDirection.ASCENDING))
  override def requiredNumPartitions(): Int = 0 // planner's choice
  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new RefIndexBatchWrite(path, writeSchema, truncate)
}

case class RefIndexCommit(files: Seq[(String, String)])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class RefIndexBatchWrite(path: String, writeSchema: StructType,
                         truncate: Boolean)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new RefIndexWriterFactory(path, writeSchema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new java.io.File(path)
    dir.mkdirs()
    if (truncate)
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.length == 1)
        .foreach(f => { f.delete(); () })
    messages.foreach {
      case RefIndexCommit(files) => files.foreach { case (letter, tmp) =>
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
          java.nio.file.Paths.get(path, letter),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      case other => throw new IllegalStateException(s"unexpected commit $other")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case RefIndexCommit(files) => files.foreach { case (_, tmp) =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp)); ()
      }
      case _ => ()
    }
}

class RefIndexWriterFactory(path: String, writeSchema: StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new RefIndexDataWriter(path, writeSchema, taskId)
}

class RefIndexDataWriter(path: String, writeSchema: StructType, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val letterIdx = writeSchema.fieldIndex("first_letter")
  private val termIdx = writeSchema.fieldIndex("term")
  private val docIdx = writeSchema.fieldIndex("doc_id")
  private val tfIdx = writeSchema.fieldIndex("tf")
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, (String, java.io.BufferedWriter)]

  override def write(row: InternalRow): Unit = {
    val letter = row.getUTF8String(letterIdx).toString
    val (_, w) = writers.getOrElseUpdate(letter, {
      val tmp = s"$path/.tmp_${letter}_$taskId"
      new java.io.File(path).mkdirs()
      (tmp, new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(tmp),
        java.nio.charset.StandardCharsets.UTF_8)))
    })
    w.write(row.getUTF8String(termIdx).toString)
    w.write(' ')
    w.write(row.getLong(docIdx).toString)
    w.write(' ')
    w.write(row.getLong(tfIdx).toString)
    w.write('\n')
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    // close EVERY writer before deciding the outcome: a flush failure on
    // one letter (disk full) must not leave later letters' buffers open,
    // and the raised error hands ALL recorded temp paths to abort()
    var failure: Throwable = null
    writers.values.foreach { case (_, w) =>
      try w.close()
      catch { case t: Throwable => if (failure == null) failure = t }
    }
    if (failure != null) throw failure
    RefIndexCommit(writers.map { case (l, (tmp, _)) => (l, tmp) }.toSeq)
  }

  override def abort(): Unit = {
    // best-effort per entry: one close() throwing (half-closed writer
    // after a failed commit flush) must not skip deleting the REMAINING
    // temp files — every recorded path is deleted regardless of state
    writers.values.foreach { case (tmp, w) =>
      try w.close() catch { case _: Throwable => () }
      try { java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp)); () }
      catch { case _: Throwable => () }
    }
  }

  override def close(): Unit = ()
}

/** Streams the byte range `[start, start+length)` of one letter file
  * line by line; `term doc count` parsed with zero intermediate
  * allocation beyond the projected values.
  *
  * Range contract (the classic Hadoop text-split semantics): a reader
  * at a non-zero offset discards everything up to its first newline
  * (that partial line belongs to the previous range), and every reader
  * keeps reading while the NEXT line starts at a position <= end — so
  * the line straddling a boundary, and the line starting exactly AT a
  * boundary, are each read by exactly one range. Byte positions are
  * tracked on the raw stream (lines may be multi-byte UTF-8).
  */
class RefIndexPartitionReader(file: String, start: Long, length: Long,
                              required: StructType,
                              limit: Option[Int] = None)
    extends PartitionReader[InternalRow] {

  private val in = new java.io.BufferedInputStream(
    new java.io.FileInputStream(file), 1 << 16)
  private val end = start + length
  private var pos = 0L
  private var emitted = 0L
  private val lineBuf = new java.io.ByteArrayOutputStream(64)
  private var row: InternalRow = _

  locally {
    var toSkip = start
    while (toSkip > 0) {
      val skipped = in.skip(toSkip)
      if (skipped <= 0) toSkip = 0 else toSkip -= skipped
    }
    pos = start
    if (start > 0) discardPartialLine()
  }

  private def discardPartialLine(): Unit = {
    var done = false
    while (!done) {
      val b = in.read()
      if (b == -1) done = true
      else { pos += 1; if (b == '\n') done = true }
    }
  }

  /** Next line (without terminator), or null at EOF; advances `pos` by
    * every byte consumed including the newline.
    */
  private def readLine(): String = {
    lineBuf.reset()
    var done = false
    var any = false
    while (!done) {
      val b = in.read()
      if (b == -1) done = true
      else {
        pos += 1; any = true
        if (b == '\n') done = true else lineBuf.write(b)
      }
    }
    if (!any) null
    else new String(lineBuf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  override def next(): Boolean = {
    // pushed LIMIT: this range's prefix satisfies the (partial) limit —
    // stop reading instead of draining the rest of the byte range
    if (limit.exists(emitted >= _)) return false
    var line: String = null
    var scan = true
    while (scan) {
      if (pos > end) { line = null; scan = false } // next line is the next range's
      else {
        line = readLine()
        if (line == null || line.nonEmpty) scan = false // EOF or a real line
      }
    }
    if (line == null) { false }
    else {
      val s1 = line.indexOf(' ')
      val s2 = line.indexOf(' ', s1 + 1)
      require(s1 > 0 && s2 > s1,
        s"malformed ref-index line in $file: '$line'")
      val values = required.fieldNames.map {
        case "first_letter" =>
          val t = line.substring(0, s1)
          UTF8String.fromString(t.substring(0, t.offsetByCodePoints(0, 1)))
        case "term"   => UTF8String.fromString(line.substring(0, s1))
        case "doc_id" => line.substring(s1 + 1, s2).toLong
        case "tf"     => line.substring(s2 + 1).trim.toLong
        case other => throw new IllegalStateException(s"unknown column $other")
      }
      row = new GenericInternalRow(values.asInstanceOf[Array[Any]])
      emitted += 1
      true
    }
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
