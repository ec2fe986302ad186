package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Output sinks mirroring the reference's two writers (SURVEY.md §2.13):
  * WARC archive records (W1) and tab-separated parsed text (W2), plus the
  * analytics-native parquet content sink.
  */
object Sinks {

  /** ISO-8601 date used in WARC headers (reference
    * …/flinkcrawler/warc/CreateWARCWritableFunction.java:23).
    */
  private val WarcDate = "yyyy-MM-dd'T'HH:mm:ss'Z'"

  /** Render one WARC/1.0 `resource` record per fetched page as a column
    * expression (reference WARCRecord.java:35, CreateWARCWritableFunction
    * .java:87-110). Expects columns: url, contentType, content (string),
    * fetchTimeMs (long).
    *
    * Three extension fields (WARC/1.0 §4 named-field extensibility) make
    * the archive REPLAY-complete: the archived HTTP status code, the
    * redirect target, and the millisecond fetch time (WARC-Date is
    * second-resolution — recrawls within one second need the real stamp
    * to pick "newest" correctly on replay, [[graft.crawl.ArchiveFetch
    * .fromWarc]]).
    */
  def warcRecordCol(
      statusCode: Column = lit(200),
      redirectedTo: Column = lit("")) = {
    val body = col("content")
    // WARC Content-Length is the OCTET count of the block — length() on a
    // string counts characters, wrong for any non-ASCII body
    val len = length(encode(body, "UTF-8")).cast("string")
    concat(
      lit("WARC/1.0\r\n"),
      lit("WARC-Type: resource\r\n"),
      concat(lit("WARC-Target-URI: "), col("url"), lit("\r\n")),
      concat(lit("WARC-Date: "),
        date_format(timestamp_millis(col("fetchTimeMs")), WarcDate),
        lit("\r\n")),
      concat(lit("WARC-Graft-Status-Code: "),
        statusCode.cast("string"), lit("\r\n")),
      when(coalesce(redirectedTo, lit("")) === "", lit(""))
        .otherwise(concat(lit("WARC-Graft-Redirect: "), redirectedTo,
          lit("\r\n"))),
      concat(lit("WARC-Graft-Fetch-Ms: "),
        col("fetchTimeMs").cast("string"), lit("\r\n")),
      concat(lit("Content-Type: "), col("contentType"), lit("\r\n")),
      concat(lit("Content-Length: "), len, lit("\r\n")),
      lit("\r\n"),
      body, lit("\r\n\r\n"))
  }

  /** The software name stamped into warcinfo headers. */
  val WarcSoftware = "graft-crawler/1.0"

  /** One-time warcinfo header record (reference
    * CreateWARCWritableFunction.java:55-86 writes one per WARC file;
    * standard WARC tooling expects it). Both content writers emit it as
    * the FIRST record of EVERY rolled segment file — plain, file-gzip
    * and member-gzip forms all route through the same task-scoped
    * segment writer. [[graft.sources.WarcSource]] surfaces it only under
    * `keepAllTypes = true`; the resource-record read path skips it.
    */
  def warcInfoRecord(crawler: String, timeMs: Long): String = {
    val date = java.time.Instant.ofEpochMilli(timeMs).toString
    val fields = s"software: $crawler\r\nformat: WARC file version 1.0\r\n"
    val octets = fields.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    s"WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Date: $date\r\n" +
      s"Content-Type: application/warc-fields\r\n" +
      s"Content-Length: $octets\r\n\r\n$fields\r\n\r\n"
  }

  /** Write fetched pages as rolling WARC text segments (the reference
    * rotates ~1 GB segments, WARCFileWriter.java:96-170; here segment size
    * is bounded via maxRecordsPerFile and optional gzip via codec).
    */
  def writeWarc(
      fetched: DataFrame, path: String,
      maxRecordsPerFile: Long = 100000, gzip: Boolean = false): Unit = {
    val writer = fetched
      .select(warcRecordCol().as("value"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (gzip) writer.option("compression", "gzip") else writer).text(path)
  }

  /** WARC sink for the crawl's `contentSink` tap (CrawlConfig.contentSink
    * frame: url, statusCode, contentType, headers, content binary,
    * fetchTimeMs, redirectedTo): decodes each body with the
    * response-header charset (headers outrank the contentType field,
    * exactly like the parse stage) and APPENDS records, so a multi-round
    * crawl accumulates one archive — the writer half of the
    * archive-and-replay loop closed by [[graft.crawl.ArchiveFetch
    * .fromWarc]]. Status code and redirect target travel in the record's
    * extension fields so non-200 outcomes replay faithfully (frames from
    * older taps without `redirectedTo` still write, as 200s-only did).
    * Routed through [[writeWarcSegments]], so every rolled segment FILE
    * leads with its own warcinfo record; `gzip = true` produces
    * whole-file-gzipped `.warc.gz` segments.
    */
  def writeWarcContent(
      content: DataFrame, path: String,
      maxRecordsPerFile: Long = 100000, gzip: Boolean = false): Unit =
    writeWarcSegments(contentRecordFrame(content), path, maxRecordsPerFile,
      if (gzip) SegmentCodec.FileGzip else SegmentCodec.Plain)

  /** Member-per-record gzip WARC segments (reference WARCFileWriter
    * .java:96-170: each record is its OWN gzip member, members
    * concatenated — the archive-ecosystem `.warc.gz` convention, which
    * lets replay tools seek to a record offset and decompress just that
    * member; file-level gzip cannot). Same record rendering and append
    * discipline as [[writeWarcContent]]; [[graft.sources.WarcSource]]
    * reads both forms transparently (Hadoop's gzip codec decompresses
    * concatenated members). Write protocol (task-scoped two-phase
    * commit, warcinfo per segment) is [[writeWarcSegments]]'s.
    */
  def writeWarcContentGzipMembers(
      content: DataFrame, path: String,
      maxRecordsPerFile: Long = 100000): Unit =
    writeWarcSegments(contentRecordFrame(content), path, maxRecordsPerFile,
      SegmentCodec.MemberGzip)

  /** How a segment file encodes its records. */
  private[sinks] sealed trait SegmentCodec {
    /** File extension (decides the reader's gzip detection). */
    def ext: String
  }
  private[sinks] object SegmentCodec {
    /** Raw WARC text, `.warc`. */
    case object Plain extends SegmentCodec { val ext = ".warc" }
    /** One gzip stream per segment file, `.warc.gz`. */
    case object FileGzip extends SegmentCodec { val ext = ".warc.gz" }
    /** One gzip MEMBER per record (the archive-ecosystem `.warc.gz`
      * convention — replay tools can seek to a record offset and
      * decompress just that member; file-level gzip cannot).
      */
    case object MemberGzip extends SegmentCodec { val ext = ".warc.gz" }
  }

  /** The shared WARC segment writer — task-scoped two-phase commit.
    * Each task streams rendered records into rolling segments written
    * under HIDDEN `.part-<pid>-<run>-<attempt>-<seq><ext>.inprogress`
    * names (the leading dot keeps them out of Spark's file index and
    * every reader's non-hidden listing), then — only after the whole
    * partition iterator is drained — renames ALL of them to their final
    * visible names in one commit step. A failure anywhere before that
    * step leaves only hidden litter; a task retry (or a later run over
    * the same dir) deletes this run's stale files for its partition on
    * open, so no record can be committed by two attempts. The run-unique
    * token keeps that cleanup from touching segments a PREVIOUS append
    * run committed. (Speculative execution of this foreachPartition must
    * stay off — two live attempts racing the commit step need a cluster
    * commit coordinator this sink does not use; Spark's default has it
    * off.)
    *
    * Every rolled segment FILE leads with a warcinfo record (reference
    * WARCFileWriter writes one per file via CreateWARCWritableFunction
    * .java:55-86) — in MemberGzip form as its own gzip member (member
    * count per segment = records + 1), in Plain/FileGzip form as the
    * first record of the file.
    */
  private def writeWarcSegments(
      frame: DataFrame, path: String, maxRecordsPerFile: Long,
      codec: SegmentCodec): Unit = {
    val records = frame
      .select(warcRecordCol(col("statusCode"), col("redirectedTo")).as("value"))
    val spark = records.sparkSession
    import spark.implicits._
    graft.util.StoreProtocol.fs(spark, path)
      .mkdirs(new org.apache.hadoop.fs.Path(path))
    // executors must see the session's spark.hadoop.* (object-store
    // credentials, fs impls) — a fresh Configuration() drops them
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val run = java.util.UUID.randomUUID().toString.take(8)
    val info = warcInfoRecord(WarcSoftware, System.currentTimeMillis())
    records.as[String].foreachPartition { it: Iterator[String] =>
      if (it.hasNext) {
        val dir = new org.apache.hadoop.fs.Path(path)
        val fs = dir.getFileSystem(hconf.value)
        val tc = org.apache.spark.TaskContext.get()
        val stem = f"part-${tc.partitionId()}%05d-$run"
        // phase 0: a retry of this (run, partition) reclaims the failed
        // attempt's files — hidden in-progress AND any visible segments a
        // commit step renamed before failing — so retries never duplicate
        fs.listStatus(dir).foreach { st =>
          val name = st.getPath.getName
          // this attempt has written nothing yet, so every (run,
          // partition) match is a failed prior attempt's leftover
          if (name.startsWith(stem) || name.startsWith(s".$stem"))
            fs.delete(st.getPath, false)
        }
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        // FileGzip keeps one gzip stream open for the whole segment
        var segGz: java.util.zip.GZIPOutputStream = null
        // MemberGzip keeps ONE stream (= one native Deflater) per segment,
        // re-armed per member — not one Deflater per record (guide §4.5:
        // heavyweight state once per task, amortised over the rows)
        var memberGz: MemberGzipStream = null
        var seq = 0
        var n = 0L
        val pending = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.hadoop.fs.Path]
        def writeRecord(record: String): Unit = {
          val bytes = record.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          codec match {
            case SegmentCodec.MemberGzip =>
              if (memberGz == null) memberGz = new MemberGzipStream(out)
              else memberGz.startMember()
              memberGz.write(bytes)
              memberGz.finishMember()
            case SegmentCodec.FileGzip => segGz.write(bytes)
            case SegmentCodec.Plain => out.write(bytes)
          }
        }
        def open(): Unit = {
          val p = new org.apache.hadoop.fs.Path(dir,
            f".$stem-${tc.taskAttemptId()}-$seq%04d${codec.ext}.inprogress")
          out = fs.create(p, true)
          if (codec == SegmentCodec.FileGzip)
            segGz = new java.util.zip.GZIPOutputStream(out, 1 << 16)
          pending += p
          n = 0L
          writeRecord(info)
        }
        def closeSegment(): Unit = if (out != null) {
          if (segGz != null) { segGz.finish(); segGz = null }
          if (memberGz != null) { memberGz.endStream(); memberGz = null }
          out.close()
          out = null
          seq += 1
        }
        try {
          it.foreach { record =>
            if (out == null) open()
            writeRecord(record)
            n += 1
            if (n >= maxRecordsPerFile) closeSegment()
          }
          closeSegment()
          // phase 1: the iterator is fully drained — commit every segment.
          // A rename failure fails the task (Spark retries; phase 0 then
          // reclaims both the renamed and the still-hidden files)
          pending.foreach { p =>
            val done = new org.apache.hadoop.fs.Path(dir, p.getName
              .stripPrefix(".").stripSuffix(".inprogress"))
            if (!fs.rename(p, done))
              throw new java.io.IOException(
                s"failed to commit WARC segment $p -> $done")
          }
        } finally {
          if (memberGz != null) memberGz.endStream() // free the native buffer
          if (out != null) out.close()
        }
      }
    }
  }

  /** One gzip member on a shared stream, ONE native Deflater for the
    * whole segment: `finishMember` flushes the member's trailer without
    * closing the underlying segment stream, `startMember` re-arms the
    * SAME deflater (reset + fresh CRC + a new fixed 10-byte gzip header —
    * exactly the header `GZIPOutputStream`'s constructor writes, so the
    * emitted bytes are identical to a per-record stream) and
    * `endStream` releases the native buffer at segment close. The
    * previous form constructed a GZIPOutputStream PER RECORD — one
    * native zlib allocation + free per archived page, which at
    * billions of records is pure per-row overhead (guide §4.5).
    */
  private final class MemberGzipStream(out: java.io.OutputStream)
    extends java.util.zip.GZIPOutputStream(out) {
    def finishMember(): Unit = finish()
    def startMember(): Unit = {
      `def`.reset()
      crc.reset()
      out.write(MemberGzipStream.Header)
    }
    def endStream(): Unit = `def`.end()
  }
  private object MemberGzipStream {
    /** The fixed header java.util.zip.GZIPOutputStream writes: magic,
      * CM=deflate, no flags, MTIME=0, XFL=0, OS=0.
      */
    private val Header = Array[Byte](0x1f.toByte, 0x8b.toByte, 8,
      0, 0, 0, 0, 0, 0, 0)
  }

  /** The shared contentSink-frame projection of [[writeWarcContent]] and
    * [[writeWarcContentGzipMembers]]: body decoded with the
    * response-header charset (headers outrank the contentType field),
    * status/redirect surfaced for replay.
    */
  private def contentRecordFrame(content: DataFrame): DataFrame = {
    val decode = udf {
      (bytes: Array[Byte], headers: Map[String, Seq[String]], ct: String) =>
        new String(bytes,
          graft.functions.UrlFunctions.charsetFromHeaders(headers, ct))
    }
    val redirect =
      if (content.columns.contains("redirectedTo")) col("redirectedTo")
      else lit("")
    content.select(
      col("url"), col("contentType"),
      decode(col("content"), col("headers"), col("contentType")).as("content"),
      col("fetchTimeMs"), col("statusCode"), redirect.as("redirectedTo"))
  }

  /** Tab-separated `url<TAB>text` lines with tabs/newlines scrubbed
    * (reference CrawlTopologyBuilder.java:441-453, scrub regex :81).
    */
  def parsedTextTsv(parsed: DataFrame): DataFrame =
    parsed.select(concat_ws("\t",
      col("url"),
      regexp_replace(col("text"), "[\\t\\r\\n]", " ")).as("value"))

  def writeParsedTsv(parsed: DataFrame, path: String): Unit =
    parsedTextTsv(parsed).write.mode("overwrite").text(path)

  /** CDX capture index over an archive's records (the web-archive lookup
    * sidecar: CommonCrawl publishes exactly this next to its WARC
    * segments; the reference's CommonCrawlFetcher navigates the crawl via
    * the secondary index over these files, SecondaryIndexMap.java /
    * CommonCrawlFetcher.java:67,146). One row per record: canonicalized
    * SURT key, 14-digit timestamp, original url, mime, archived status,
    * md5 content digest, octet length. Input is [[graft.sources
    * .WarcSource.read]]'s frame (or any frame with those columns).
    *
    * Scale shape: pure projection — surt/digest/length are per-row
    * expressions; ordering happens only in [[writeCdx]] via a range
    * repartition so the emitted shards are globally sorted by
    * (surt, ts), the property CDX binary-search lookup needs.
    */
  def cdxIndex(records: DataFrame, extraCols: Seq[Column] = Nil): DataFrame = {
    records.select(Seq(
      graft.plans.UrlExpressions.surt_key(col("url")).as("surt"),
      // CDX timestamps are defined as UTC; date_format renders wall time
      // in the SESSION timezone, so shift the instant first such that the
      // session-tz rendering shows the UTC wall clock — correct under any
      // spark.sql.session.timeZone, not just the UTC the tests pin
      date_format(
        to_utc_timestamp(timestamp_millis(col("fetchTimeMs")),
          expr("current_timezone()")),
        "yyyyMMddHHmmss").as("ts"),
      col("url"),
      col("contentType").as("mime"),
      col("statusCode").cast("long").as("status"),
      md5(col("content")).as("digest"),
      length(encode(col("content"), "UTF-8")).cast("long").as("n_octets"))
      ++ extraCols: _*)
  }

  /** Render + write the CDX index for an archive directory: space-joined
    * text lines (the classic CDX line shape: key, timestamp, url, mime,
    * status, digest, length, plus the holding WARC segment's filename —
    * the reference CDX `filename` field that lets a lookup read ONE
    * archive file, CommonCrawlFetcher.java:146), range-partitioned and
    * sorted so the file set reads back in global (surt, ts) order —
    * the property [[graft.sources.CdxLookup]]'s shard pruning needs.
    */
  def writeCdx(spark: org.apache.spark.sql.SparkSession,
      archiveDir: String, path: String, shards: Int = 1): Unit = {
    val records = graft.sources.WarcSource.readWithFile(spark, archiveDir)
    cdxIndex(records, extraCols = Seq(col("warc_file")))
      .repartitionByRange(shards, col("surt"), col("ts"))
      .sortWithinPartitions(col("surt"), col("ts"))
      // CDX lines are space-delimited, so a mime like
      // 'text/html; charset=utf-8' (routine in fetch headers) would shift
      // every later field on re-parse — classic CDX strips internal
      // whitespace from the mime field; do the same ('-' when absent)
      .select(concat_ws(" ", col("surt"), col("ts"), col("url"),
        regexp_replace(coalesce(col("mime"), lit("-")), "\\s+", ""),
        col("status"), col("digest"), col("n_octets"), col("warc_file"))
        .as("value"))
      .write.mode("overwrite").text(path)
  }

  /** Training-corpus export: parquet laid out by split (and shard, when
    * a shard column is present — [[graft.operators.TextOps.shardAndPack]]
    * assigns one), so a training job reads its split with partition
    * pruning and each shard is an independently consumable file set.
    * One writer job, no repartition beyond the layout columns — the
    * directory structure IS the index.
    */
  def writeTrainingSplits(
      corpus: DataFrame, path: String,
      splitCol: String = "split", shardCol: String = "shard"): Unit = {
    val layout =
      if (corpus.columns.contains(shardCol)) Seq(splitCol, shardCol)
      else Seq(splitCol)
    corpus.write.mode("overwrite").partitionBy(layout: _*).parquet(path)
  }
}
