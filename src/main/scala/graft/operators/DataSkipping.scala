package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, TimestampNTZType, TimestampType}

import graft.plans.ZOrderExpressions
import graft.util.{ParquetRead, Pooled, StoreProtocol}

/** Multi-column data skipping: Z-order clustering at write time plus a
  * file-level min-max statistics sidecar consulted at read time, so a
  * selective multi-column range predicate opens only the files whose
  * ranges intersect it — the layout-level scan cutter Spark itself does
  * not have (vanilla Spark prunes partitions by directory value and row
  * groups by pushed filters, but always LISTS-AND-OPENS every file of a
  * non-partitioned table; Delta/Iceberg-class engines add exactly this
  * file-stats layer — see the Delta Lake paper §4.2 "data skipping",
  * VLDB 2020 — and this module is that layer re-expressed over plain
  * parquet + the [[graft.util.StoreProtocol]] filesystem idioms).
  *
  * Why Z-order and not a plain sort: a single-column sort makes min-max
  * ranges tight on ONE column — a predicate on any other column matches
  * every file. Interleaving the bit-ranks of 2-3 key columns
  * ([[graft.plans.ZOrderCodegen]]) keeps every keyed column's per-file
  * range narrow, so a 5%×5% rectangle touches O(boundary) files instead
  * of all of them. At 100 TB this is the difference between opening a
  * few hundred files and a million.
  *
  * The stats sidecar is built from parquet FOOTERS — a metadata-only
  * pass (one footer read per file, pooled through [[Pooled.ordered]]),
  * never a second scan of the data. Readers that ignore the sidecar see
  * a perfectly ordinary parquet directory (the `_SKIP` sidecar and the
  * `_z` clustering column are both convention-invisible: underscore
  * paths are skipped by Spark's file index, and [[prunedRead]] drops
  * `_z`); readers that use [[prunedRead]] get the same rows a full scan
  * + filter would return, minus the files that provably hold none.
  *
  * Scale shape: the sidecar is one atomically-flipped text file of
  * (files × keyed columns) lines — pure metadata, tens of MB at 10^6
  * files, read and filtered driver-side in one pass (the same class of
  * driver metadata Spark's own file listing already holds for such a
  * table). Row-group pruning inside the surviving files still applies on
  * top (the range filters are pushed to the parquet reader as usual).
  *
  * Supported key types: integral (int/long) and timestamp — the realistic
  * skipping keys (ids, event times, sizes). Ranges are expressed in the
  * column's long form (timestamps: epoch MICROS, matching both
  * `unix_micros` and the parquet INT64 physical stats).
  */
object DataSkipping {

  /** Inclusive range over one keyed column, in long form (timestamps in
    * epoch micros).
    */
  case class ColRange(col: String, lo: Long, hi: Long)

  /** What the skip layer did: `filesRead` of `filesTotal` survived. */
  case class PruneInfo(filesTotal: Int, filesRead: Int)

  private val StatsDir = "_SKIP"

  /** The column's long form: the SAME mapping is used for rank
    * normalization at write time, the footer stats (INT64 physical for
    * both longs and micros timestamps), and the read-side predicate — so
    * a range never straddles a representation change.
    */
  private def asLong(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case LongType | IntegerType => col(c).cast(LongType)
      case TimestampType => unix_micros(col(c))
      // NTZ (how Spark 4 reads non-UTC-adjusted parquet timestamps):
      // the cast to TimestampType is identity under the engine's UTC
      // session timezone, and parquet stores both as INT64 micros — one
      // long form either way
      case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"data-skipping key $c: unsupported type $other " +
          "(integral and timestamp columns only)")
    }

  /** Write `df` Z-order-clustered on `zCols` (2 or 3 columns) into
    * `nFiles` files under `dir`, and record the per-file min-max sidecar.
    *
    * One pass over the data: per-column global bounds (one small agg
    * job), bit-rank each key against its bounds, Morton-interleave into
    * `_z`, range-partition + sort on it, write. Then the metadata-only
    * footer sweep builds `_SKIP`. Null keys rank as the column minimum —
    * they cluster at the curve's origin and never widen other files'
    * ranges.
    */
  def writeZOrdered(
      df: DataFrame, dir: String, zCols: Seq[String], nFiles: Int): Unit = {
    require(zCols.size == 2 || zCols.size == 3,
      s"z-order supports 2 or 3 key columns, got ${zCols.size}")
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    val spark = df.sparkSession
    val longs = zCols.map(c => asLong(df, c))
    val aggs = longs.zipWithIndex.flatMap { case (l, i) =>
      Seq(min(l).as(s"lo$i"), max(l).as(s"hi$i")) }
    val boundsRow = df.agg(aggs.head, aggs.tail: _*).head()
    val bits = if (zCols.size == 2) 31 else 21
    val mask = (1L << bits) - 1L
    val ranks = longs.zipWithIndex.map { case (l, i) =>
      // empty input or all-null column: rank 0 everywhere
      if (boundsRow.isNullAt(2 * i)) lit(0L)
      else {
        val lo = boundsRow.getLong(2 * i)
        val hi = boundsRow.getLong(2 * i + 1)
        // double-domain normalization: hashed 64-bit keys legitimately
        // span more than Long.MaxValue (lo ≈ -2^63, hi ≈ 2^63), where
        // long subtraction overflows — both the span here and the
        // per-row (v - lo) below. Doubles lose low bits at that scale,
        // which is irrelevant for a 2^21/2^31-granular RANK.
        val spanD = hi.toDouble - lo.toDouble
        if (spanD <= 0d) lit(0L)
        else ((coalesce(l, lit(lo)).cast("double") - lit(lo.toDouble)) *
          lit(mask.toDouble / spanD)).cast(LongType)
      }
    }
    // INT96 parquet timestamps carry no footer statistics — the write
    // must use the stats-bearing INT64-micros physical type. The conf is
    // session-scoped (no DataFrameWriter option exists for it), so the
    // override lives in a CLONED session: the clustered plan is published
    // as a global temp view and written through `spark.newSession()` with
    // the conf set there — a concurrent write on the caller's session
    // never sees the flip, and there is no restore to clobber anyone.
    val clustered = df.withColumn("_z", ZOrderExpressions.zvalue(ranks: _*))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
    val view = "graft_zwrite_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    clustered.createOrReplaceGlobalTempView(view)
    try {
      val writer = spark.newSession()
      writer.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      writer.table(s"global_temp.$view").write.mode("overwrite").parquet(dir)
    } finally spark.catalog.dropGlobalTempView(view)
    writeStats(spark, dir, zCols)
  }

  /** Footer-derived per-file min-max sidecar for `cols`, written to
    * `dir/_SKIP` as tab-separated lines `file col lo hi` (empty lo/hi =
    * "no stats, never prune this file"), flipped atomically
    * ([[graft.util.FsAtomic.writePointer]] — readers see the old complete
    * sidecar or the new one, never a partial). Metadata-only: one pooled
    * footer read per file. Public so a layout produced by other writers
    * (e.g. an externally sorted corpus) can adopt the skip layer too.
    * `atomic = false` writes the sidecar with a plain create instead —
    * only for a dir no reader can resolve yet (a new generation dir
    * before its manifest flip), where no partial file can be observed.
    */
  def writeStats(spark: SparkSession, dir: String, cols: Seq[String],
      threads: Int = 16, atomic: Boolean = true): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = StoreProtocol.fs(spark, dir)
    val files = dataFiles(fs, dir)
    val rows: Seq[String] =
      Pooled.ordered(files, threads = threads, name = "skipstats") { p =>
        fileMinMax(conf, p, cols).map { case (c, mm) =>
          s"${p.getName}\t$c\t${mm.map(_._1.toString).getOrElse("")}" +
            s"\t${mm.map(_._2.toString).getOrElse("")}"
        }
      }.flatten
    val body = rows.mkString("\n")
    if (atomic) graft.util.FsAtomic.writePointer(fs, new Path(dir), StatsDir, body)
    else {
      val out = fs.create(new Path(dir, StatsDir), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The directory's data files — the SAME universe the full-scan
    * baseline reads, so the freshness contract ("a foreign writer's
    * files are read unpruned") can never silently drop rows. For a plain
    * directory that is every non-hidden regular FILE regardless of
    * extension (`spark.read.parquet(dir)` reads extension-less parts
    * too — a foreign writer's unsuffixed file must be in the universe,
    * unprunable because it has no sidecar row, not excluded). For the
    * `.parquet`-wildcard suffix shape
    * ([[graft.util.SliceRewrite.liveReadPath]] for unversioned slices)
    * the baseline IS the glob, so the extension filter applies there —
    * handled by stripping the suffix and listing literally, never by
    * glob expansion (a directory NAME containing glob metacharacters
    * would silently empty a globStatus universe).
    */
  private def dataFiles(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Seq[Path] = {
    val globbed = dir.endsWith("/*.parquet")
    val plain =
      if (globbed) dir.dropRight("/*.parquet".length)
      else dir
    fs.listStatus(new Path(plain))
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
          (!globbed || n.endsWith(".parquet"))
      }
      .map(_.getPath)
      .sortBy(_.getName).toSeq
  }

  /** ONE per-column statistics fold over a file's footer — the single
    * stats-semantics authority shared by the sidecar writer
    * ([[fileMinMax]]) and the read-side max ([[footerMax]]), so a gate
    * fix lands in both.
    *
    * Tri-state: `None` = undeterminable (column absent or non-integral,
    * stats missing on some non-empty row group, unsigned/narrow int
    * annotation — whose raw stats are NOT the value Spark's long cast
    * yields); `Some(None)` = determinable and all-null/empty;
    * `Some(Some((lo, hi)))` = the fold.
    *
    * `timestampMicrosOk`: the sidecar path ([[fileMinMax]]) compares in
    * epoch MICROS (`asLong` = `unix_micros`), so INT64 TIMESTAMP(MICROS)
    * stats are the right value there — but [[footerMax]] stands in for
    * `cast("long")` (SECONDS for timestamps) and must refuse them.
    * TIMESTAMP(MILLIS/NANOS) is refused on both paths: its raw stats are
    * not micros.
    */
  private def fileColStats(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      c: String, timestampMicrosOk: Boolean): Option[Option[(Long, Long)]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val schema = footer.getFileMetaData.getSchema
    val idx = schema.getFields.asScala.indexWhere(_.getName == c)
    val okType = idx >= 0 && schema.getType(idx).isPrimitive && {
      val pt = schema.getType(idx).asPrimitiveType()
      val phys = pt.getPrimitiveTypeName
      (phys == PrimitiveTypeName.INT64 ||
        phys == PrimitiveTypeName.INT32) &&
      (pt.getLogicalTypeAnnotation match {
        case null => true
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          // signed 32/64 only: UINT32 raw stats sign-extend to the wrong
          // long, INT(16)/INT(8) are types the scan path refuses
          i.isSigned && (i.getBitWidth == 32 || i.getBitWidth == 64)
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          timestampMicrosOk &&
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
        case _ => false
      })
    }
    if (!okType) None
    else {
      var lo = Long.MaxValue
      var hi = Long.MinValue
      var ok = true
      var any = false
      footer.getBlocks.asScala.filter(_.getRowCount > 0L).foreach { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == c) match {
          case Some(cc) =>
            val st = cc.getStatistics
            if (st == null || st.isEmpty) ok = false
            else if (st.hasNonNullValue) {
              // all-null chunks contribute no range (and exclude none);
              // chunks without stats poison the file into never-prune
              (st.genericGetMin, st.genericGetMax) match {
                case (a: java.lang.Long, b2: java.lang.Long) =>
                  if (a.longValue() < lo) lo = a.longValue()
                  if (b2.longValue() > hi) hi = b2.longValue()
                  any = true
                case (a: java.lang.Integer, b2: java.lang.Integer) =>
                  if (a.longValue() < lo) lo = a.longValue()
                  if (b2.longValue() > hi) hi = b2.longValue()
                  any = true
                case _ => ok = false
              }
            }
          case None => ok = false
        }
      }
      if (!ok) None
      else if (!any) Some(None)
      else Some(Some((lo, hi)))
    }
  }

  /** One file's min-max per keyed column, from its parquet footer.
    * `None` = no usable stats for that column — the sidecar records an
    * empty range and the file is never pruned on it (all-null files fold
    * to `None` too: same safe outcome, no rows lost).
    */
  private def fileMinMax(
      conf: org.apache.hadoop.conf.Configuration, p: Path,
      cols: Seq[String]): Seq[(String, Option[(Long, Long)])] = {
    // a universe file whose footer can't be read (foreign non-parquet
    // bytes) records empty stats — never pruned, surfaced by the actual
    // scan if it truly isn't parquet — rather than failing the sidecar
    val footer =
      try ParquetRead.footer(conf, p)
      catch { case _: java.io.IOException |
                   _: RuntimeException => return cols.map((_, None)) }
    cols.map(c =>
      (c, fileColStats(footer, c, timestampMicrosOk = true).flatten))
  }

  /** Read `dir` under the conjunction of `ranges` (inclusive, long form —
    * timestamps in epoch micros), opening only the files whose sidecar
    * ranges intersect every predicate. Returns the filtered frame (the
    * `_z` clustering column dropped; the same rows a full scan + filter
    * yields) plus the prune accounting for callers that assert on it.
    *
    * Files with absent stats for a queried column are conservatively
    * kept; files whose sidecar row is missing entirely cannot happen by
    * construction ([[writeStats]] emits a row per file × col, nullable).
    */
  /** Freshness contract: files ABSENT from the sidecar are read unpruned
    * (safe to append data without re-running [[writeStats]] — you lose
    * skipping on the new files, never rows), but a same-named file
    * REWRITTEN in place under a stale sidecar may prune wrongly — rewrite
    * protocols must refresh the sidecar (Spark writers never reuse part
    * file names across overwrites, so the dir-overwrite idiom is safe:
    * the old names vanish, the new names are sidecar-absent).
    */
  def prunedRead(
      spark: SparkSession, dir: String,
      ranges: Seq[ColRange]): (DataFrame, PruneInfo) = {
    require(ranges.nonEmpty, "prunedRead needs at least one column range")
    // the glob-suffix shape ([[graft.util.SliceRewrite.liveReadPath]])
    // restricts the file universe inside dataFiles; every OTHER path —
    // the sidecar, survivor file paths, the empty fallback's plan — wants
    // the plain directory
    val plain =
      if (dir.endsWith("/*.parquet")) dir.dropRight("/*.parquet".length)
      else dir
    val stats = readStats(spark, plain)
    // the file universe is what's ON DISK, not what the sidecar knows:
    // a file written after the last writeStats (foreign appender) has no
    // sidecar row and must be read UNPRUNED, never silently dropped; a
    // sidecar row whose file is gone prunes nothing by construction
    val all = dataFiles(StoreProtocol.fs(spark, dir), dir)
      .map(_.getName)
    // a sidecar with ZERO data files on disk (everything deleted/GC'd
    // since writeStats) has no schema to build even an empty frame from —
    // name the condition instead of surfacing Spark's opaque
    // "unable to infer schema" from the limit(0) fallback below
    if (all.isEmpty)
      throw new IllegalStateException(
        s"prunedRead: $dir has a $StatsDir sidecar but no data files — " +
          "the data was removed after writeStats; rewrite the directory " +
          "(or writeStats it again once it has files)")
    // a file is pruned iff SOME queried column provably misses its range;
    // absent stats (no sidecar row, or an empty lo/hi) never prune
    val survivors = all.filter { file =>
      ranges.forall { r =>
        stats.get((file, r.col)).flatten
          .forall { case (lo, hi) => hi >= r.lo && lo <= r.hi }
      }
    }
    val base =
      if (survivors.isEmpty)
        // schema-complete empty frame: plan over the full universe, keep
        // zero (metadata-only — no file contents are read under limit(0))
        spark.read.parquet(dir).limit(0)
      else spark.read.parquet(survivors.map(f => s"$plain/$f"): _*)
    val filtered = ranges.foldLeft(base) { (d, r) =>
      d.filter(predicate(base, r))
    }
    (filtered.drop("_z"), PruneInfo(all.size, survivors.size))
  }

  /** Lenient multi-directory pruned read — the STORE adoption form of
    * [[prunedRead]] ([[graft.crawl.FrontierStore.readBanded]], corpus
    * slice scans): each dir's `_SKIP` sidecar prunes its own files; a dir
    * WITHOUT a sidecar contributes every file unpruned (stores adopt the
    * layer incrementally — old bucket versions written before the hook
    * simply don't skip), and the union reads as ONE parquet scan with the
    * range predicates pushed down, never a per-dir plan union.
    *
    * Same soundness shape as [[prunedRead]]: the file universe is what's
    * on disk, absent stats never prune, and the returned rows equal a
    * full scan + filter of all `dirs`.
    */
  def prunedReadDirs(
      spark: SparkSession, dirs: Seq[String],
      ranges: Seq[ColRange]): (DataFrame, PruneInfo) = {
    require(ranges.nonEmpty, "prunedReadDirs needs at least one column range")
    require(dirs.nonEmpty, "prunedReadDirs needs at least one directory")
    val perDir = dirs.map { dir =>
      val fs = StoreProtocol.fs(spark, dir)
      val all = dataFiles(fs, dir)
      val plain =
        if (dir.endsWith("/*.parquet")) dir.dropRight("/*.parquet".length)
        else dir
      val stats = tryReadStats(spark, plain)
      val survivors = all.filter { p =>
        ranges.forall { r =>
          stats.get((p.getName, r.col)).flatten
            .forall { case (lo, hi) => hi >= r.lo && lo <= r.hi }
        }
      }
      (all.size, survivors.map(_.toString))
    }
    val total = perDir.map(_._1).sum
    val survivorPaths = perDir.flatMap(_._2)
    val base =
      if (survivorPaths.isEmpty)
        // schema-complete empty frame off the first non-empty dir's plan
        spark.read.parquet(dirs: _*).limit(0)
      else spark.read.parquet(survivorPaths: _*)
    val filtered = ranges.foldLeft(base) { (d, r) =>
      d.filter(predicate(base, r))
    }
    (filtered.drop("_z"), PruneInfo(total, survivorPaths.size))
  }

  /** [[readStats]] that treats an absent sidecar as "no stats for any
    * file" (lenient adoption), instead of failing.
    */
  private def tryReadStats(
      spark: SparkSession,
      dir: String): Map[(String, String), Option[(Long, Long)]] = {
    val fs = StoreProtocol.fs(spark, dir)
    if (!fs.exists(new Path(dir, StatsDir))) Map.empty
    else readStats(spark, dir)
  }

  /** Exact MAX of an integral column from parquet footers alone — the
    * metadata-only form of `read.agg(max(col.cast("long")))` for columns
    * whose physical+logical type makes the footer stats value-identical
    * to the cast (plain INT32/INT64, NOT timestamps: Spark's
    * timestamp→long cast yields seconds while the stats hold micros).
    * Used by [[CorpusIngest.eventTimeFeed]]'s per-slice time sidecars: a
    * new slice's clock entry costs footer reads, not a column scan of a
    * possibly-TB slice.
    *
    * Tri-state: `None` = undeterminable from footers (non-integral
    * column, absent stats, column missing from some file) — caller must
    * fall back to the scan; `Some(None)` = determined, and the column is
    * all-null/empty; `Some(Some(v))` = determined max.
    */
  def footerMax(
      spark: SparkSession, dir: String, c: String): Option[Option[Long]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(StoreProtocol.fs(spark, dir), dir)
    if (files.isEmpty) return Some(None)
    val perFile: Seq[Option[Option[Long]]] =
      Pooled.ordered(files, threads = 16, name = "footermax") { p =>
        // unreadable footer (foreign non-parquet file in the universe):
        // undeterminable — the caller's scan fallback owns the error
        val footerOpt =
          try Some(ParquetRead.footer(conf, p))
          catch { case _: java.io.IOException |
                       _: RuntimeException => None }
        footerOpt.flatMap(
          fileColStats(_, c, timestampMicrosOk = false).map(_.map(_._2)))
      }
    if (perFile.exists(_.isEmpty)) None
    else Some(perFile.flatten.flatten.maxOption)
  }

  /** Parse the `_SKIP` sidecar: (file, col) → Some(lo, hi) when the
    * footer had stats, None when it did not (never-prune).
    */
  def readStats(
      spark: SparkSession,
      dir: String): Map[(String, String), Option[(Long, Long)]] = {
    val fs = StoreProtocol.fs(spark, dir)
    val body = StoreProtocol.readSmall(fs, new Path(dir, StatsDir))
      .getOrElse(throw new IllegalStateException(
        s"no $StatsDir sidecar under $dir — writeStats it first"))
    body.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val parts = line.split("\t", -1)
      val mm =
        if (parts(2).isEmpty || parts(3).isEmpty) None
        else Some((parts(2).toLong, parts(3).toLong))
      (parts(0), parts(1)) -> mm
    }.toMap
  }

  /** The range predicate in the column's native type (so it pushes down
    * to the parquet scan and prunes row groups inside survivor files).
    */
  private def predicate(df: DataFrame, r: ColRange): Column =
    df.schema(r.col).dataType match {
      case TimestampType =>
        col(r.col) >= timestamp_micros(lit(r.lo)) &&
          col(r.col) <= timestamp_micros(lit(r.hi))
      case TimestampNTZType =>
        // native NTZ literals keep the comparison pushable to the scan
        col(r.col) >= lit(ntz(r.lo)) && col(r.col) <= lit(ntz(r.hi))
      case _ => col(r.col) >= lit(r.lo) && col(r.col) <= lit(r.hi)
    }

  private def ntz(micros: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
}
