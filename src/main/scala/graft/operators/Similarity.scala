package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.expressions.{Aggregator, Window}

import graft.plans.VectorExpressions

/** Similarity search over an embedding column (array<float>).
  *
  * Two paths, as a 100 TB pipeline needs:
  *  - [[cosineTopK]]: exact brute force — the correctness baseline. The
  *    query side is small (broadcast); the corpus streams through one
  *    projection + per-query window top-K. Cost O(|Q| x |corpus| x dim).
  *  - [[lshBuckets]] / [[annTopK]]: random-hyperplane LSH. Each vector gets
  *    a deterministic bucket id from sign bits against fixed pseudo-random
  *    hyperplanes; candidates are an equi-join on bucket (co-partitioned,
  *    no cross product), then exact cosine re-ranks within the bucket.
  *
  * All arithmetic is sequential-fold double math (aggregate over the dim
  * index), so the oracle can reproduce results bit-for-bit with
  * list_reduce in DuckDB — no rounding fudge needed.
  */
object Similarity {

  /** Exact top-K cosine neighbors for each query vector. `queries` and
    * `corpus` must both have (idCol, vecCol); queries are broadcast-sized
    * (that has always been this operator's scale contract — the previous
    * form shipped them through a BroadcastExchange).
    *
    * Execution (r17): the old form was `broadcast(q).join(c)` + window —
    * a nested-loop join that MATERIALIZED every query x corpus pair as a
    * joined row carrying both full vectors (~0.5 KB of payload memcpy per
    * pair, guide §8's "heavy bytes moved to make a small decision"), and
    * it inherited the corpus scan's partitioning (1-2 parquet splits),
    * so the whole quadratic ran on 1-2 tasks. Now a per-task primitive-
    * array kernel streams the corpus once (sized to defaultParallelism —
    * the CPU-seam discipline) and keeps one bounded worst-first top-K
    * buffer per query; only the per-partition survivors (≤ |Q| x K rows
    * per task) reach the exact global window, which is unchanged.
    * Arithmetic is bit-identical: same sequential-fold dotFF order for
    * dot and norms, same nan-safe descending-cos / ascending-id order as
    * the window's comparator. Long ids + float vectors (every caller);
    * other types fall back to the join form.
    */
  def cosineTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val kernelable =
      queries.schema(idCol).dataType == LongType &&
        corpus.schema(idCol).dataType == LongType &&
        (queries.schema(vecCol).dataType match {
          case ArrayType(FloatType, _) => true; case _ => false
        }) &&
        (corpus.schema(vecCol).dataType match {
          case ArrayType(FloatType, _) => true; case _ => false
        })
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val candidates =
      (if (kernelable)
        cosineTopKCandidates(queries, corpus, idCol, vecCol, k)
      else None).getOrElse {
        // fallback: the original join form (norms once per side)
        val q = queries.select(
          col(idCol).as("query_id"), col(vecCol).as("qv"),
          VectorExpressions.norm(col(vecCol)).as("qn"))
        val c = corpus.select(
          col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
          VectorExpressions.norm(col(vecCol)).as("cn"))
        broadcast(q)
          .join(c, col("query_id") =!= col("neighbor_id"))
          .select(
            col("query_id"), col("neighbor_id"),
            (VectorExpressions.dot(col("qv"), col("cv")) /
              (col("qn") * col("cn"))).as("cos"))
      }
    candidates
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
  }

  /** Row/byte bound for the kernel paths' driver-side probe collects.
    * The replaced BroadcastExchange failed LOUDLY past its threshold; a
    * bare collect() OOMs the driver silently — so the collect is bounded
    * (limit cap+1: the job never ships more than cap+1 rows) and a frame
    * over the row or estimated-byte cap returns None, routing the caller
    * to its join-form fallback. Null ids/vectors also route to the join
    * form, which yields null-cos rows instead of an encoder NPE.
    */
  private def guardedProbeCollect(
      frame: DataFrame): Option[Array[org.apache.spark.sql.Row]] = {
    val conf = frame.sparkSession.conf
    val maxRows = conf.getOption("spark.graft.kernel.maxProbeRows")
      .map(_.toInt).getOrElse(1 << 22)
    val maxBytes = conf.getOption("spark.graft.kernel.maxProbeBytes")
      .map(_.toLong).getOrElse(512L << 20)
    val rows = frame.limit(maxRows + 1).collect()
    if (rows.length > maxRows) return None
    var bytes = 0L
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      var f = 0
      while (f < r.length) {
        if (r.isNullAt(f)) return None
        r.get(f) match {
          case s: Seq[_] =>
            if (s.contains(null)) return None
            bytes += 16L + 4L * s.length
          case _ => bytes += 8L
        }
        f += 1
      }
      i += 1
    }
    if (bytes > maxBytes) None else Some(rows)
  }

  /** Re-spread a frame to the task slots ONLY when it arrives narrower
    * (a small parquet corpus coalesces to 1-2 splits — a parallelism
    * collapse for a compute kernel on top). A frame already at or above
    * defaultParallelism — a big index scanning wide — is never reshuffled
    * (the shuffle would move every vector byte to save nothing). The
    * width is read off the planned physical plan ([[plannedPartitions]]),
    * so no upstream stage runs to find it.
    */
  private[graft] def spreadToSlots(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df) < target) df.repartition(target) else df
  }

  /** The partition count of `df` from its planned physical plan: the
    * splits of the scans that stream into it (a broadcast side does not).
    * 0 when a shuffle feeds it, as AQE may coalesce that shuffle below
    * its planned count; `df.rdd.getNumPartitions` would learn the true
    * count only by running every upstream shuffle stage, work the real
    * run then recomputes.
    */
  private def plannedPartitions(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    def streamed(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: BroadcastExchangeLike => Nil
      case leaf if leaf.children.isEmpty => Seq(leaf)
      case _ => p.children.flatMap(streamed)
    }
    if (plan.exists(_.isInstanceOf[ShuffleExchangeLike])) 0
    else streamed(plan).map {
      case scan: FileSourceScanExec => scan.inputRDD.getNumPartitions
      case leaf => leaf.execute().getNumPartitions
    }.sum
  }

  /** Per-partition exact top-K candidates for [[cosineTopK]]'s kernel
    * path: every (query, corpus-row) cosine is computed on primitive
    * float arrays, but only each partition's K best per query are ever
    * EMITTED as rows — a superset of the global top-K by construction
    * (same comparator), so the window on top stays exact. The query side
    * collects through [[guardedProbeCollect]]'s explicit row/byte bound
    * (it is the operator's contract that queries are broadcast-sized;
    * the corpus is never collected) — None past the bound or on null
    * ids/vectors, routing the caller to the join form.
    */
  private def cosineTopKCandidates(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): Option[DataFrame] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val collected = guardedProbeCollect(queries.select(col(idCol), col(vecCol)))
    if (collected.isEmpty) return None
    val qRows: Array[(Long, Array[Float])] = collected.get
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qb = spark.sparkContext.broadcast(qRows)
    val kk = k
    Some(spreadToSlots(corpus.select(col(idCol), col(vecCol)))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = qb.value
        val nq = qs.length
        if (nq == 0 || kk < 1) Iterator.empty
        else {
          // same accumulation order as VectorCodegen.dotFF
          def dot(a: Array[Float], b: Array[Float]): Double = {
            val n = math.min(a.length, b.length)
            var s = 0.0; var i = 0
            while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
            s
          }
          // Spark's DoubleType ordering (nan-safe; -0.0 == 0.0)
          def cmpCos(x: Double, y: Double): Int = {
            val xn = java.lang.Double.isNaN(x)
            val yn = java.lang.Double.isNaN(y)
            if ((xn && yn) || (x == y)) 0
            else if (xn) 1 else if (yn) -1
            else if (x > y) 1 else -1
          }
          val qn = new Array[Double](nq)
          var i = 0
          while (i < nq) { qn(i) = math.sqrt(dot(qs(i)._2, qs(i)._2)); i += 1 }
          // worst-first sorted insertion buffers, best at slot 0
          val cosBuf = Array.ofDim[Double](nq, kk)
          val idBuf = Array.ofDim[Long](nq, kk)
          val cnt = new Array[Int](nq)
          it.foreach { case (nid, cv) =>
            val cn = math.sqrt(dot(cv, cv))
            var qi = 0
            while (qi < nq) {
              val (qid, qv) = qs(qi)
              if (qid != nid) {
                val cos = dot(qv, cv) / (qn(qi) * cn)
                val n = cnt(qi)
                // better-than = (cos greater) or (equal cos, smaller id)
                if (n < kk || {
                  val c = cmpCos(cos, cosBuf(qi)(n - 1))
                  c > 0 || (c == 0 && nid < idBuf(qi)(n - 1))
                }) {
                  var pos = if (n < kk) n else n - 1
                  while (pos > 0 && {
                    val c = cmpCos(cos, cosBuf(qi)(pos - 1))
                    c > 0 || (c == 0 && nid < idBuf(qi)(pos - 1))
                  }) {
                    cosBuf(qi)(pos) = cosBuf(qi)(pos - 1)
                    idBuf(qi)(pos) = idBuf(qi)(pos - 1)
                    pos -= 1
                  }
                  cosBuf(qi)(pos) = cos
                  idBuf(qi)(pos) = nid
                  if (n < kk) cnt(qi) = n + 1
                }
              }
              qi += 1
            }
          }
          (0 until nq).iterator.flatMap { qi =>
            (0 until cnt(qi)).iterator
              .map(j => (qs(qi)._1, idBuf(qi)(j), cosBuf(qi)(j)))
          }
        }
      }
      .toDF("query_id", "neighbor_id", "cos"))
  }

  /** Symmetric int8 quantization of an embedding (max-abs scale): the
    * storage path at corpus scale — 4x smaller than float32, and the
    * quantized arrays still support approximate dot products. One Scala
    * UDF per row (HOF transform would inline the max-abs subexpression
    * per element, the interpreted-HOF trap). Rounding is floor(x + 0.5) —
    * identical half-up behavior in any engine, unlike round().
    */
  def quantizeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (vec: Seq[Float]) =>
      var scale = 0.0
      vec.foreach { v => val a = math.abs(v.toDouble); if (a > scale) scale = a }
      val q =
        if (scale == 0.0) vec.map(_ => 0L)
        else vec.map(v => math.floor(v.toDouble / scale * 127.0 + 0.5).toLong)
      (scale, q.mkString(","))
    }

  /** Assign every vector its LSH bucket. */
  def lshBuckets(
      df: DataFrame, idCol: String, vecCol: String,
      dim: Int, numPlanes: Int): DataFrame =
    df.select(
      col(idCol),
      VectorExpressions.lshBucket(col(vecCol), numPlanes).as("bucket"))

  /** Embedding near-duplicate pairs: LSH-bucket candidates (equi-join on
    * bucket, a<b), exact cosine gate. The embedding-space twin of MinHash
    * dedup: per-row bucket projection, one co-partitioned self-join, no
    * cross product — linear at corpus scale.
    */
  def cosineDedupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      dim: Int, numPlanes: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val kernelable = df.schema(idCol).dataType == LongType &&
      (df.schema(vecCol).dataType match {
        case ArrayType(FloatType, _) => true; case _ => false
      })
    if (kernelable)
      // r17 kernel: the bucket self-join materialized every in-bucket
      // pair as a joined row carrying BOTH vectors before the dot
      // pruned it (see cosineTopK); the kernel shuffles the projection
      // ONCE (the join shuffled it twice) and evaluates pairs on
      // primitive arrays, emitting only pairs at/above the threshold.
      // Bucket occupancy bounds a task's buffer — the same bound that
      // already capped the join's per-partition group.
      withinGroupPairs(df.select(
        VectorExpressions.lshBucket(col(vecCol), numPlanes).as("g"),
        col(idCol).as("vid"), col(vecCol).as("v"),
        VectorExpressions.norm(col(vecCol)).as("n")), threshold)
    else {
      val v = df.select(
        col(idCol).as("vid"), col(vecCol).as("v"),
        VectorExpressions.norm(col(vecCol)).as("n"),
        VectorExpressions.lshBucket(col(vecCol), numPlanes).as("bucket"))
        .localCheckpoint(true) // one projection feeds both join sides
      v.as("x")
        .join(v.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.vid") < col("y.vid"))
        .select(col("x.vid").as("id_a"), col("y.vid").as("id_b"),
          (VectorExpressions.dot(col("x.v"), col("y.v")) /
            (col("x.n") * col("y.n"))).as("cos"))
        .filter(col("cos") >= threshold)
    }
  }

  /** Within-group thresholded pairwise cosine — the kernel behind
    * [[cosineDedupPairs]] and [[semanticDedupPairs]]: `proj` carries
    * (g, vid, v, n); a group's vectors load into ONE task, pairs evaluate
    * on primitive arrays in ascending-vid order and only pairs with
    * cos >= threshold are ever EMITTED as rows. cos bits are identical to
    * the join's (element-wise products commute; the dim-index fold order
    * is dotFF's).
    *
    * Hot-group memory bound (guide §5): LSH buckets / k-means cells are
    * USUALLY small, but nothing caps a skewed bucket, and `it.toArray`
    * over an unbounded group is an executor OOM where the equi-join
    * could at least spill. So group sizes are counted first — a column-
    * pruned aggregate (only `g` is computed per row; the shuffle carries
    * |groups| count rows, never a vector) — and any group above
    * `spark.graft.kernel.maxGroupRows` (default 65536) takes the
    * spillable self-join path instead; the kernel runs only on bounded
    * groups. Pair output is identical either way (same dot order, same
    * strict-inequality pairing, same threshold). The size probe runs at
    * plan-construction time (one tiny Spark job), the price of choosing
    * the plan by data; in the steady no-hot-group state nothing else
    * changes — single kernel shuffle, no checkpoint.
    */
  private[operators] def withinGroupPairs(
      proj: DataFrame, threshold: Double): DataFrame = {
    val spark = proj.sparkSession
    import spark.implicits._
    val th = threshold
    val cap = spark.conf.getOption("spark.graft.kernel.maxGroupRows")
      .map(_.toInt).getOrElse(1 << 16)
    val p0 = proj.toDF("g", "vid", "v", "n")
    def kernel(src: DataFrame): DataFrame = src
      .as[(Long, Long, Array[Float], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(_._2)
        def dot(a: Array[Float], b: Array[Float]): Double = {
          val n = math.min(a.length, b.length)
          var s = 0.0; var i = 0
          while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
          s
        }
        (0 until rows.length).iterator.flatMap { i =>
          val (_, via, va, na) = rows(i)
          ((i + 1) until rows.length).iterator.flatMap { j =>
            val (_, vib, vb, nb) = rows(j)
            // the join paired on STRICT vid inequality
            if (via == vib) Iterator.empty
            else {
              val cos = dot(va, vb) / (na * nb)
              if (cos >= th) Iterator.single((via, vib, cos))
              else Iterator.empty
            }
          }
        }
      }
      .toDF("id_a", "id_b", "cos")
    // oversized groups: ≤ |rows|/cap of them, driver-bounded by definition
    val hotIds: Array[Long] = p0.groupBy(col("g"))
      .agg(count(lit(1)).as("__gn")).filter(col("__gn") > cap)
      .select(col("g")).as[Long].collect()
    if (hotIds.isEmpty) kernel(p0)
    else {
      val pc = p0.localCheckpoint(true) // one pass feeds both routes
      val hot = pc.filter(col("g").isInCollection(hotIds))
      val joinPairs = hot.as("x")
        .join(hot.as("y"),
          col("x.g") === col("y.g") && col("x.vid") < col("y.vid"))
        .select(col("x.vid").as("id_a"), col("y.vid").as("id_b"),
          (VectorExpressions.dot(col("x.v"), col("y.v")) /
            (col("x.n") * col("y.n"))).as("cos"))
        .filter(col("cos") >= th)
      kernel(pc.filter(!col("g").isInCollection(hotIds)))
        .unionByName(joinPairs)
    }
  }

  /** IVF (inverted-file) coarse quantization: assign every vector to its
    * nearest centroid by cosine (deterministic tie-break on centroid id).
    * `centroids` must be small — it is broadcast; the corpus streams
    * through one projection + a per-vector argmin, so assignment is one
    * narrow pass at any corpus size.
    */
  /** Nearest-centroid assignment as a ZERO-expansion projection: the
    * centroid matrix (cells × dim doubles — driver-bounded, the same
    * bound its broadcast already implied) is closure-captured and the
    * argmax runs per row inside one UDF. The earlier broadcast-join +
    * per-vid window form expanded every vector × every centroid AND
    * carried the vector array through that expansion — at 2M vectors ×
    * 1024 cells that intermediate is ~600 GB (an OOM, PERF_NOTES "Durable
    * ANN index vs brute force"); this form is O(cells × dim) arithmetic
    * per row with nothing materialized. Semantics unchanged and
    * bit-identical: sequential double dot folds (the
    * [[graft.plans.VectorCodegen]] kernels' order)
    * and ties keep the smallest cent_id (ascending scan, strict `>`).
    */
  def ivfAssign(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      dim: Int): DataFrame = {
    val cents = centroids
      .select(col(centIdCol).cast("long"), col(centVecCol))
      .collect()
      .map { r =>
        val cv = r.getSeq[Any](1).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue
          case x: Number => x.doubleValue
        }.toArray
        (r.getLong(0), cv, math.sqrt(cv.map(x => x * x).sum))
      }
      .sortBy(_._1)
    require(cents.nonEmpty, "ivfAssign needs at least one centroid")
    cents.foreach { case (id, cv, _) =>
      require(cv.length == dim,
        s"ivfAssign: centroid $id has dim ${cv.length}, expected $dim") }
    // a zero-norm centroid's cosine is NaN for every vector — it can never
    // be a meaningful nearest cell, so drop it up front (the pre-rewrite
    // window form let NaN sort first and win assignments, which was a bug,
    // not a semantics to preserve; k-means never emits one from nonempty
    // cells, so this only fires on degenerate hand-built centroid sets)
    val live = cents.filter(_._3 > 0.0)
    require(live.nonEmpty, "ivfAssign: all centroids have zero norm")
    // r17: the per-row argmax is a codegen expression over primitive
    // reads (graft.plans.IvfAssignExpr) — the previous Scala UDF unboxed
    // a java.lang.Double for every (row x centroid x dim) access, which
    // DOMINATED every IVF build at production centroid counts. Arithmetic
    // order, tie-break and the dim/null guards are identical; the float
    // array is widened per element exactly like the old array<double>
    // cast.
    df.select(col(idCol).as("vid"), col(vecCol).as("v"),
      VectorExpressions.norm(col(vecCol)).as("n"),
      VectorExpressions.ivfAssign(col(vecCol),
        live.map(_._2), live.map(_._1), live.map(_._3), dim).as("cell"))
  }

  /** IVF ANN top-K with nprobe=1: each query searches only its own cell
    * (candidates = corpus vectors assigned to the same centroid), exact
    * cosine re-rank inside the cell. The scale path when hyperplane LSH
    * recall is too bucket-shape-sensitive: cells follow the data
    * distribution instead of fixed random planes.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, centIdCol: String, centVecCol: String,
      dim: Int, k: Int): DataFrame = {
    val corpusCells = ivfAssign(corpus, idCol, vecCol,
      centroids, centIdCol, centVecCol, dim)
      .localCheckpoint(true) // assignment pass runs once, feeds both sides
    val queryCells = corpusCells // queries are corpus members in this API
      .join(queries.select(col(idCol).as("vid")), Seq("vid"), "left_semi")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    // the query set is small by construction (it was always broadcast);
    // the r17 kernel streams the corpus once with bounded per-query
    // buffers instead of materializing |Q| x |cell| joined pair rows
    // (see cosineTopK). Fallback = the original broadcast join.
    val candidates = kernelProbes(queryCells) match {
      case Some(probes) => cellTopKCandidates(corpusCells, probes, k)
      case None =>
        broadcast(queryCells.as("q"))
          .join(corpusCells.as("c"),
            col("q.cell") === col("c.cell") && col("q.vid") =!= col("c.vid"))
          .select(col("q.vid").as("query_id"), col("c.vid").as("neighbor_id"),
            col("q.cell").as("cell"),
            (VectorExpressions.dot(col("q.v"), col("c.v")) /
              (col("q.n") * col("c.n"))).as("cos"))
    }
    candidates
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
  }

  /** Collect a probe frame (vid/qvid, v, n, cell) for the kernel paths —
    * Some only when ids are longs and vectors float arrays (every
    * caller) AND the frame passes [[guardedProbeCollect]]'s explicit
    * row/byte/null bound (the join forms shipped this frame through a
    * BroadcastExchange, which failed loudly past its cap; the guarded
    * collect falls back to that join form instead of OOMing silently).
    */
  private[operators] def kernelProbes(
      probeFrame: DataFrame): Option[Array[(Long, Array[Float], Double, Long)]] = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val f = probeFrame.schema.fields
    val ok = f(0).dataType == LongType &&
      (f(1).dataType match {
        case ArrayType(FloatType, _) => true; case _ => false
      }) && f(3).dataType == LongType
    if (!ok) None
    else guardedProbeCollect(probeFrame).map(_.map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2), r.getLong(3))))
  }

  /** Kernel shared by the IVF/ANN query paths: corpus cells stream once
    * (vid, v, n, cell — re-spread to the task slots, CPU-seam sizing),
    * probes are broadcast INDEXED BY CELL, and each task keeps one
    * bounded worst-first top-K buffer per query — only per-partition
    * survivors (≤ |Q| x K rows per task) are emitted, a superset of the
    * exact global top-K under the same nan-safe (cos desc, neighbor asc)
    * order. Norms ride IN from the same frames the join form read, so
    * every double is bit-identical to the join's.
    */
  private[operators] def cellTopKCandidates(
      corpusCells: DataFrame,
      probes: Array[(Long, Array[Float], Double, Long)],
      k: Int): DataFrame = {
    val spark = corpusCells.sparkSession
    import spark.implicits._
    val qb = spark.sparkContext.broadcast(probes)
    val kk = k
    spreadToSlots(corpusCells.select(col("vid"), col("v"), col("n"), col("cell")))
      .as[(Long, Array[Float], Double, Long)]
      .mapPartitions { it =>
        val ps = qb.value
        if (ps.isEmpty || kk < 1) Iterator.empty
        else {
          def dot(a: Array[Float], b: Array[Float]): Double = {
            val n = math.min(a.length, b.length)
            var s = 0.0; var i = 0
            while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
            s
          }
          def cmpCos(x: Double, y: Double): Int = {
            val xn = java.lang.Double.isNaN(x)
            val yn = java.lang.Double.isNaN(y)
            if ((xn && yn) || (x == y)) 0
            else if (xn) 1 else if (yn) -1
            else if (x > y) 1 else -1
          }
          // dense query index (a query may probe several cells)
          val qids: Array[Long] = ps.map(_._1).distinct
          val qIdx = new java.util.HashMap[java.lang.Long, Integer](qids.length * 2)
          qids.zipWithIndex.foreach { case (q, i) => qIdx.put(q, i) }
          // cell -> probe entry indexes
          val byCell = new java.util.HashMap[java.lang.Long, Array[Int]]()
          ps.indices.groupBy(i => ps(i)._4).foreach { case (c, is) =>
            byCell.put(c, is.toArray)
          }
          val nq = qids.length
          val cosBuf = Array.ofDim[Double](nq, kk)
          val idBuf = Array.ofDim[Long](nq, kk)
          val cellBuf = Array.ofDim[Long](nq, kk)
          val cnt = new Array[Int](nq)
          it.foreach { case (vid, cv, cn, cell) =>
            val here = byCell.get(cell)
            if (here != null) {
              var j = 0
              while (j < here.length) {
                val (qid, qv, qn, _) = ps(here(j))
                if (qid != vid) {
                  val cos = dot(qv, cv) / (qn * cn)
                  val qi = qIdx.get(qid).intValue()
                  val n = cnt(qi)
                  if (n < kk || {
                    val c = cmpCos(cos, cosBuf(qi)(n - 1))
                    c > 0 || (c == 0 && vid < idBuf(qi)(n - 1))
                  }) {
                    var pos = if (n < kk) n else n - 1
                    while (pos > 0 && {
                      val c = cmpCos(cos, cosBuf(qi)(pos - 1))
                      c > 0 || (c == 0 && vid < idBuf(qi)(pos - 1))
                    }) {
                      cosBuf(qi)(pos) = cosBuf(qi)(pos - 1)
                      idBuf(qi)(pos) = idBuf(qi)(pos - 1)
                      cellBuf(qi)(pos) = cellBuf(qi)(pos - 1)
                      pos -= 1
                    }
                    cosBuf(qi)(pos) = cos
                    idBuf(qi)(pos) = vid
                    cellBuf(qi)(pos) = cell
                    if (n < kk) cnt(qi) = n + 1
                  }
                }
                j += 1
              }
            }
          }
          (0 until nq).iterator.flatMap { qi =>
            (0 until cnt(qi)).iterator.map(j =>
              (qids(qi), idBuf(qi)(j), cellBuf(qi)(j), cosBuf(qi)(j)))
          }
        }
      }
      .toDF("query_id", "neighbor_id", "cell", "cos")
  }

  /** The mirror kernel of [[cellTopKCandidates]] for the big-batch /
    * small-index case ([[AnnIndexStore.query]]'s index-broadcast branch):
    * PROBES stream (re-spread to the task slots), the INDEX rides as a
    * task-local cell map (driver-bounded by the caller's
    * broadcastMaxIndexBytes gate — the same bound its BroadcastExchange
    * already implied). Each probe row is one (query, cell): its exact
    * top-K within that cell is emitted (≤ K rows per probe), and the
    * caller's per-query window merges across the query's probed cells.
    */
  private[operators] def indexSideTopKCandidates(
      probes: DataFrame,
      index: Array[(Long, Array[Float], Double, Long)],
      k: Int): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val ib = spark.sparkContext.broadcast(index)
    val kk = k
    spreadToSlots(probes)
      .as[(Long, Array[Float], Double, Long)]
      .mapPartitions { it =>
        if (kk < 1) Iterator.empty
        else {
        val ix = ib.value
        def dot(a: Array[Float], b: Array[Float]): Double = {
          val n = math.min(a.length, b.length)
          var s = 0.0; var i = 0
          while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
          s
        }
        def cmpCos(x: Double, y: Double): Int = {
          val xn = java.lang.Double.isNaN(x)
          val yn = java.lang.Double.isNaN(y)
          if ((xn && yn) || (x == y)) 0
          else if (xn) 1 else if (yn) -1
          else if (x > y) 1 else -1
        }
        val byCell = new java.util.HashMap[java.lang.Long, Array[Int]]()
        ix.indices.groupBy(i => ix(i)._4).foreach { case (c, is) =>
          byCell.put(c, is.toArray)
        }
        it.flatMap { case (qvid, qv, qn, cell) =>
          val here = byCell.get(cell)
          if (here == null) Iterator.empty
          else {
            val cosBuf = new Array[Double](kk)
            val idBuf = new Array[Long](kk)
            var cnt = 0
            var j = 0
            while (j < here.length) {
              val (vid, cv, cn, _) = ix(here(j))
              if (vid != qvid) {
                val cos = dot(qv, cv) / (qn * cn)
                if (cnt < kk || {
                  val c = cmpCos(cos, cosBuf(cnt - 1))
                  c > 0 || (c == 0 && vid < idBuf(cnt - 1))
                }) {
                  var pos = if (cnt < kk) cnt else cnt - 1
                  while (pos > 0 && {
                    val c = cmpCos(cos, cosBuf(pos - 1))
                    c > 0 || (c == 0 && vid < idBuf(pos - 1))
                  }) {
                    cosBuf(pos) = cosBuf(pos - 1)
                    idBuf(pos) = idBuf(pos - 1)
                    pos -= 1
                  }
                  cosBuf(pos) = cos
                  idBuf(pos) = vid
                  if (cnt < kk) cnt += 1
                }
              }
              j += 1
            }
            (0 until cnt).iterator.map(j => (qvid, idBuf(j), cell, cosBuf(j)))
          }
        }
        }
      }
      .toDF("query_id", "neighbor_id", "cell", "cos")
  }

  /** IVF ANN with multi-cell probing (the standard recall lever): each
    * query searches its `nprobe` nearest cells instead of only its own,
    * catching true neighbors that sit just across a cell boundary. Cost
    * scales with nprobe × cell size — still cell-local equi-joins over
    * the corpus, never all-pairs; centroids stay broadcast. `nprobe = 1`
    * reduces to [[ivfTopK]]'s search (modulo that query cells here come
    * from the query's own centroid ranking, which for corpus members is
    * identical to their assigned cell at rank 1).
    */
  def ivfTopKProbed(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, centIdCol: String, centVecCol: String,
      dim: Int, k: Int, nprobe: Int): DataFrame = {
    val corpusCells = ivfAssign(corpus, idCol, vecCol,
      centroids, centIdCol, centVecCol, dim)
      .localCheckpoint(true) // one assignment pass
    val c = centroids.select(col(centIdCol).as("cent_id"),
      col(centVecCol).as("cv"),
      VectorExpressions.norm(col(centVecCol)).as("cn"))
    val q0 = queries.select(col(idCol).as("qvid"), col(vecCol).as("qv"),
      VectorExpressions.norm(col(vecCol)).as("qn"))
    val pw = Window.partitionBy(col("qvid"))
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val probes = q0.join(broadcast(c))
      .select(col("qvid"), col("qv"), col("qn"), col("cent_id"),
        (VectorExpressions.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("cent_cos"))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nprobe)
      .select(col("qvid"), col("qv"), col("qn"), col("cent_id").as("cell"))
    // every corpus vector lives in exactly one cell, so (query, neighbor)
    // pairs are already unique across the probed cells
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    // r17 kernel (see cosineTopK): stream the corpus once with bounded
    // per-query buffers instead of materializing |probes| x |cell| rows
    val candidates = kernelProbes(probes) match {
      case Some(ps) => cellTopKCandidates(corpusCells, ps, k).drop("cell")
      case None =>
        broadcast(probes.as("q"))
          .join(corpusCells.as("c"),
            col("q.cell") === col("c.cell") && col("q.qvid") =!= col("c.vid"))
          .select(col("q.qvid").as("query_id"),
            col("c.vid").as("neighbor_id"),
            (VectorExpressions.dot(col("q.qv"), col("c.v")) /
              (col("q.qn") * col("c.n"))).as("cos"))
    }
    candidates
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
  }

  /** Lloyd's k-means refinement of IVF centroids — the "train the coarse
    * quantizer" step. [[ivfTopK]]/[[ivfTopKProbed]] take whatever
    * centroids they're given; hash-sampled corpus members (the q34/q48
    * default) are unbiased but ignore the data's cluster structure, so
    * cells are unevenly sized and recall@k suffers. A few Lloyd rounds —
    * assign every vector to its nearest centroid (cosine), recompute each
    * centroid as its cell's element-wise mean — move the centroids onto
    * the actual density modes.
    *
    * Scale shape, per iteration: assignment is [[ivfAssign]] (broadcast
    * centroids, one narrow corpus pass); the mean is posexplode to
    * (cell, dim) then a partially-aggregated sum/count — map-side combine
    * collapses the shuffle to |cells| × dim rows regardless of corpus
    * size — then collect_list(dim-sorted) rebuilds the vectors. Nothing
    * ever sorts or windows the corpus. Empty cells drop out (their
    * centroid attracted nothing); callers needing a fixed k re-seed.
    *
    * Float caveat: the per-cell mean is a parallel double sum, so exact
    * bit equality across partitionings is NOT guaranteed — this is a
    * training step, not a query operator; it is spec-tested on geometry
    * (centroids land on cluster means) rather than oracle-hashed.
    */
  def kmeansRefine(
      corpus: DataFrame, initCentroids: DataFrame,
      idCol: String, vecCol: String, dim: Int, iters: Int): DataFrame = {
    var cents = initCentroids
      .select(col(idCol).as("cent_id"), col(vecCol).as("cv"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(corpus, idCol, vecCol,
        cents, "cent_id", "cv", dim)
      cents = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg((sum(col("x")) / count(lit(1))).as("m"))
        .groupBy(col("cell").as("cent_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cent_id"),
          expr("transform(pm, e -> cast(e.m as float))").as("cv"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Second-moment buffer for [[momentsMatrix]]: `m` is laid out as
    * [gram (dim*dim, row-major), per-dim sums (dim), count (1)].
    */
  case class MomentBuf(m: Array[Long])

  private class MomentAgg(dim: Int)
      extends Aggregator[Seq[Long], MomentBuf, MomentBuf] {
    private val gramLen = dim * dim
    override def zero: MomentBuf = MomentBuf(new Array[Long](gramLen + dim + 1))
    override def reduce(b: MomentBuf, v: Seq[Long]): MomentBuf = {
      val a = b.m
      val x = v.toArray
      var i = 0
      while (i < dim) {
        val xi = x(i)
        a(gramLen + i) += xi
        var j = 0
        val row = i * dim
        while (j < dim) { a(row + j) += xi * x(j); j += 1 }
        i += 1
      }
      a(gramLen + dim) += 1L
      b
    }
    override def merge(p: MomentBuf, q: MomentBuf): MomentBuf = {
      val a = p.m; val c = q.m
      var i = 0
      while (i < a.length) { a(i) += c(i); i += 1 }
      p
    }
    override def finish(b: MomentBuf): MomentBuf = b
    override def bufferEncoder: Encoder[MomentBuf] = Encoders.product[MomentBuf]
    override def outputEncoder: Encoder[MomentBuf] = Encoders.product[MomentBuf]
  }

  /** Globally-scaled int8 quantization of a vector column: every element
    * becomes `floor(x / globalScale * 127 + 0.5)` with ONE scale for the
    * whole corpus (max |x| over every vector — an order-independent MAX,
    * so cross-engine deterministic, unlike a parallel float SUM). Uniform
    * scaling preserves geometry: the quantized covariance is the raw
    * covariance times (127/scale)^2 up to rounding, so PCA directions
    * survive. Contrast [[quantizeUdf]] (q41), whose per-row scale is right
    * for storage/dot-products but wrong for cross-row statistics.
    *
    * Returns `df` with `qvCol` (array<bigint>) appended; the global max
    * rides in as a broadcast 1-row aggregate (the q44 pattern), never a
    * driver collect.
    */
  def quantizeGlobal(
      df: DataFrame, vecCol: String, qvCol: String): DataFrame = {
    val g = df.agg(
      max(expr(s"aggregate(transform($vecCol, x -> abs(cast(x as double)))," +
        " cast(0 as double), (s, v) -> greatest(s, v))")).as("gscale"))
    df.crossJoin(broadcast(g))
      .withColumn(qvCol, expr(
        s"CASE WHEN gscale = 0 THEN transform($vecCol, x -> 0L) " +
          s"ELSE transform($vecCol, x -> " +
          s"CAST(floor(cast(x as double) / gscale * 127.0 + 0.5) AS BIGINT)) END"))
      .drop("gscale")
  }

  /** One-pass corpus second moments over an integer vector column: a
    * single typed Aggregator whose buffer is the full [gram | sums | n]
    * array, so the map side does all dim^2 multiply-adds locally and the
    * shuffle carries ONE (dim^2+dim+1)-long array per task — corpus size
    * never appears in the shuffle. Integer arithmetic makes the result
    * order-independent (exact oracle parity) and overflow-safe to ~1e12
    * rows at |q| <= 127 (127^2 * 1e12 < 2^63).
    */
  def momentsMatrix(df: DataFrame, qvCol: String, dim: Int): DataFrame = {
    val agg = udaf(new MomentAgg(dim))
    df.agg(agg(col(qvCol)).as("mm")).select(col("mm.m").as("m"))
  }

  /** Gram entries as (i, j, s) rows, 1-based, from [[momentsMatrix]] —
    * the SQL-comparable surface of the moment pass (dim^2 rows total).
    */
  def gramEntries(df: DataFrame, qvCol: String, dim: Int): DataFrame =
    momentsMatrix(df, qvCol, dim)
      .select(posexplode(expr(s"slice(m, 1, ${dim * dim})")).as(Seq("p", "s")))
      .select(
        expr(s"CAST(p div $dim AS BIGINT) + 1").as("i"),
        expr(s"CAST(p % $dim AS BIGINT) + 1").as("j"),
        col("s"))

  /** Top-k principal components from one [[momentsMatrix]] result —
    * power iteration with Gram-Schmidt deflation on the dim x dim
    * covariance, driver-side (bounded: dim^2 longs, never the corpus).
    * Deterministic: starts from the covariance column with the largest
    * diagonal. Returns (eigenvalue, unit eigenvector) descending.
    */
  def pcaComponents(
      moments: Array[Long], dim: Int, k: Int,
      iters: Int = 200): Seq[(Double, Array[Double])] = {
    val gramLen = dim * dim
    val n = math.max(moments(gramLen + dim), 1L).toDouble
    val mean = Array.tabulate(dim)(i => moments(gramLen + i) / n)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      moments(i * dim + j) / n - mean(i) * mean(j))
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var s = 0.0; var j = 0
        while (j < dim) { s += cov(i)(j) * v(j); j += 1 }
        s
      }
    def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    val found = scala.collection.mutable.ArrayBuffer.empty[(Double, Array[Double])]
    for (_ <- 0 until math.min(k, dim)) {
      val start = (0 until dim).maxBy(i => cov(i)(i))
      var v = Array.tabulate(dim)(i => if (i == start) 1.0 else 0.0)
      // deflate the start vector against found components too
      for (_ <- 0 until iters) {
        var w = matVec(v)
        found.foreach { case (_, u) =>
          val d = u.zip(w).map { case (a, b) => a * b }.sum
          w = w.zip(u).map { case (wi, ui) => wi - d * ui }
        }
        val nw = norm(w)
        if (nw > 1e-12) v = w.map(_ / nw)
      }
      val lambda = v.zip(matVec(v)).map { case (a, b) => a * b }.sum
      found += ((lambda, v))
      // deflate cov so the next dominant direction emerges
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { cov(i)(j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
    }
    found.toSeq
  }

  /** Project a float-vector column onto PCA components (mean-centered):
    * broadcast-closure matrix multiply per row, output array<float> of
    * length components.size. Pure projection — no shuffle.
    */
  def pcaProject(
      df: DataFrame, vecCol: String, outCol: String,
      mean: Array[Double], components: Seq[Array[Double]]): DataFrame = {
    val comps = components.toArray
    val mu = mean
    val proj = udf { (vec: Seq[Float]) =>
      val centered = Array.tabulate(mu.length)(i => vec(i).toDouble - mu(i))
      comps.map { c =>
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i) * centered(i); i += 1 }
        s.toFloat
      }.toSeq
    }
    df.withColumn(outCol, proj(col(vecCol)))
  }

  /** Fit-and-project PCA over an embedding column: global-scale int8
    * quantize -> one-pass moments -> driver eigensolve on the dim x dim
    * matrix -> projection. The only collect is the (dim^2+dim+1)-long
    * moment array — invariant to corpus size.
    */
  def pcaFitProject(
      df: DataFrame, vecCol: String, outCol: String,
      dim: Int, k: Int): DataFrame = {
    val q = quantizeGlobal(df, vecCol, "__qv")
    val m = momentsMatrix(q, "__qv", dim)
      .collect()(0).getSeq[Long](0).toArray
    val comps = pcaComponents(m, dim, k)
    val gramLen = dim * dim
    val n = math.max(m(gramLen + dim), 1L).toDouble
    // mean in QUANTIZED space; projection input must live there too
    val mean = Array.tabulate(dim)(i => m(gramLen + i) / n)
    pcaProject(
      q.withColumn("__qf", expr("transform(__qv, x -> cast(x as float))")),
      "__qf", outCol, mean, comps.map(_._2))
      .drop("__qv", "__qf")
  }

  /** Product-quantization codebooks: the vector is split into `m`
    * subspaces of dim/m dims; each subspace gets its own `ksub`-centroid
    * codebook ([[kmeansRefine]] on the slice). A corpus vector then
    * compresses to m small codes ([[pqEncode]]) — m bytes instead of
    * dim*4, a 32x memory cut at dim=64/m=8 — and queries score corpus
    * rows by summing per-subspace table lookups ([[pqTopK]], ADC). The
    * composition with IVF (coarse cells restrict candidates, PQ
    * compresses what is scanned) is the standard billion-scale layout;
    * here the pieces compose: ivfAssign -> filter cell -> pqTopK.
    *
    * Returns (sub, code, cv): sub in [0,m), code in [0,ksub), cv the
    * dsub-length float centroid. Training = m independent kmeansRefine
    * runs over slices — iters*m narrow corpus passes, shuffles bounded
    * by |cells| x dsub each (see kmeansRefine).
    */
  def pqTrain(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int, iters: Int = 3): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    (0 until m).map { s =>
      val sliced = corpus.select(col(idCol).as("vid"),
        expr(s"slice($vecCol, ${s * dsub + 1}, $dsub)").as("sv"))
      val init = sliced.orderBy(col("vid")).limit(ksub)
      val trained = kmeansRefine(sliced, init, "vid", "sv", dsub, iters)
      val w = Window.orderBy(col("cent_id"))
      trained.select(lit(s).as("sub"),
        (row_number().over(w) - 1).as("code"), col("cv"))
    }.reduce(_ unionByName _)
  }

  /** Encode every corpus vector as m PQ codes: nearest sub-centroid by
    * L2 on each slice (L2, not cosine — subvector norms carry signal).
    * Broadcast codebook (m*ksub rows), min_by per (row, subspace), codes
    * collected dim-order into an array<int>. One narrow pass + one
    * groupBy(vid) shuffle of m-int rows.
    */
  def pqEncode(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, dim: Int, m: Int): DataFrame = {
    val dsub = dim / m
    corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .join(broadcast(codebook))
      .select(col("vid"), col("sub"), col("code"),
        expr(s"aggregate(transform(sequence(0, ${dsub - 1}), d -> " +
          s"pow(cast(element_at(slice(v, sub * $dsub + 1, $dsub), d + 1) " +
          "as double) - cast(element_at(cv, d + 1) as double), 2)), " +
          "cast(0 as double), (s, x) -> s + x)").as("d2"))
      .groupBy(col("vid"), col("sub"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .groupBy(col("vid"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, code))), " +
        "e -> e.code)").as("codes"))
  }

  /** PQ asymmetric-distance top-K: each query precomputes its m x ksub
    * inner-product table against the codebook (|Q| * m * ksub rows,
    * broadcast); a corpus row's score is the sum of m table lookups by
    * its codes — m adds per (query, row) instead of dim multiplies, over
    * vectors stored 32x smaller. Shape: explode codes (m rows each),
    * broadcast-join the table on (sub, code) fanning out per query,
    * partial-agg the m-term sums — the shuffle carries (qid, vid)
    * partial sums, never vectors. Approximation note: scores are inner
    * products against reconstructed (quantized) vectors; for cosine
    * semantics normalize corpus vectors before encoding.
    */
  def pqTopK(
      queries: DataFrame, encoded: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int, k: Int): DataFrame = {
    val dsub = dim / m
    val table = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(codebook)
      .select(col("query_id"), col("sub"), col("code"),
        expr(s"aggregate(transform(sequence(0, ${dsub - 1}), d -> " +
          s"cast(element_at(slice(qv, sub * $dsub + 1, $dsub), d + 1) " +
          "as double) * cast(element_at(cv, d + 1) as double)), " +
          "cast(0 as double), (s, x) -> s + x)").as("part"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    encoded
      .select(col("vid").as("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(table), Seq("sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("part")).as("score"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
  }

  /** PQ search with exact re-ranking (the FAISS "refine" stage): ADC
    * scores build a per-query shortlist (`shortlist` >= k, typically
    * 5-10x k), then the shortlist joins back to the ORIGINAL vectors for
    * exact cosine ordering. This fixes ADC's resolution floor: inside a
    * tight semantic cluster the PQ quantization error exceeds the true
    * neighbor gaps, so pure-ADC RANKING is noise there even though the
    * true top-k almost always survive into the shortlist (measured on
    * the clustered fixture of PERF_NOTES "ANN recall on CLUSTERED
    * embeddings": m=16 ADC recall@5 0.20, same codes + rerank 0.90+).
    *
    * Scale shape: the shortlist is |queries| x shortlist rows — tiny —
    * and BROADCASTS against the corpus's id-equi-join, so the exact pass
    * reads each candidate's vector once and never scans out-of-shortlist
    * rows; cost is corpus-size-independent given the index.
    */
  def pqTopKRerank(
      queries: DataFrame, encoded: DataFrame, codebook: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val cands = pqTopK(queries, encoded, codebook, idCol, vecCol,
        dim, m, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      VectorExpressions.norm(col(vecCol)).as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
        VectorExpressions.norm(col(vecCol)).as("nn"))
      .join(broadcast(cands.join(q, Seq("query_id"))), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (VectorExpressions.dot(col("qv"), col("nv")) /
          (col("qn") * col("nn"))).as("cos"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
  }

  /** IVF+PQ composed index — the billion-scale ANN layout (FAISS
    * IndexIVFPQ): the coarse quantizer restricts each query to its
    * `nprobe` nearest cells, and inside those cells corpus rows are
    * scored from their m-byte PQ codes (ADC table lookups), so the scan
    * touches neither full vectors nor out-of-cell rows. Index build =
    * one [[ivfAssign]] pass + one [[pqEncode]] pass joined on id (a
    * one-time shuffle at build, amortized over every query); query =
    * broadcast probes + broadcast ADC tables over the cell-filtered code
    * rows, partial-agg sums, per-query top-k. For cosine semantics
    * normalize corpus and query vectors first (PERF_NOTES "ANN recall on
    * CLUSTERED embeddings").
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String,
      centIdCol: String, centVecCol: String,
      dim: Int, m: Int, k: Int, nprobe: Int): DataFrame = {
    val dsub = dim / m
    val corpusIdx = ivfAssign(corpus, idCol, vecCol,
      centroids, centIdCol, centVecCol, dim)
      .select(col("vid"), col("cell"))
      .join(pqEncode(corpus, idCol, vecCol, codebook, dim, m), Seq("vid"))
      .localCheckpoint(true) // the persisted index: (vid, cell, codes)
    val c = centroids.select(col(centIdCol).as("cent_id"),
      col(centVecCol).as("cv_c"),
      VectorExpressions.norm(col(centVecCol)).as("cn"))
    val q0 = queries.select(col(idCol).as("qvid"), col(vecCol).as("qv"),
      VectorExpressions.norm(col(vecCol)).as("qn"))
    val pw = Window.partitionBy(col("qvid"))
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val probes = q0.join(broadcast(c))
      .select(col("qvid"), col("cent_id"),
        (VectorExpressions.dot(col("qv"), col("cv_c")) /
          (col("qn") * col("cn"))).as("cent_cos"))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nprobe)
      .select(col("qvid"), col("cent_id").as("cell"))
    val table = q0.join(codebook)
      .select(col("qvid"), col("sub"), col("code"),
        expr(s"aggregate(transform(sequence(0, ${dsub - 1}), d -> " +
          s"cast(element_at(slice(qv, sub * $dsub + 1, $dsub), d + 1) " +
          "as double) * cast(element_at(cv, d + 1) as double)), " +
          "cast(0 as double), (s, x) -> s + x)").as("part"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    corpusIdx
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qvid") =!= col("vid"))
      .select(col("qvid"), col("vid"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(table), Seq("qvid", "sub", "code"))
      .groupBy(col("qvid").as("query_id"), col("vid").as("neighbor_id"))
      .agg(sum(col("part")).as("score"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space
    * near-duplicate pairs found INSIDE k-means cells — cluster the
    * corpus, then compare only within-cell pairs against a cosine
    * threshold. The cell partition bounds the quadratic term by cell
    * size (the paper's design point), and cells are a plain equi-join
    * key here, so the join is co-partitioned and shuffle-linear; pair
    * output feeds [[graft.operators.Components]] for transitive
    * clustering and `dedupedCorpus` for materialization, same as the
    * MinHash path. Train `centroids` with [[kmeansRefine]] for
    * density-following cells; any centroid set works (assignment is
    * deterministic: argmax cosine, id tie-break).
    */
  def semanticDedupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      dim: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val kernelable = corpus.schema(idCol).dataType == LongType &&
      (corpus.schema(vecCol).dataType match {
        case ArrayType(FloatType, _) => true; case _ => false
      })
    if (kernelable)
      // r17 kernel (see cosineDedupPairs): one shuffle of the assignment
      // projection instead of a two-sided self-join materializing every
      // in-cell pair row; cells bound a task's buffer by construction
      // (SemDeDup's own premise). Single consumer — no checkpoint needed.
      withinGroupPairs(
        ivfAssign(corpus, idCol, vecCol, centroids, centIdCol, centVecCol,
            dim)
          .select(col("cell").as("g"), col("vid"), col("v"), col("n")),
        threshold)
    else {
      val cells = ivfAssign(corpus, idCol, vecCol,
        centroids, centIdCol, centVecCol, dim)
        .localCheckpoint(true) // one assignment pass feeds both join sides
      cells.as("a")
        .join(cells.as("b"),
          col("a.cell") === col("b.cell") && col("a.vid") < col("b.vid"))
        .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
          (VectorExpressions.dot(col("a.v"), col("b.v")) /
            (col("a.n") * col("b.n"))).as("cos"))
        .filter(col("cos") >= threshold)
    }
  }

  /** Approximate top-K: candidates share the query's bucket (equi-join on
    * bucket — co-partitioned, linear), exact cosine re-rank inside.
    */
  def annTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, dim: Int, numPlanes: Int,
      k: Int): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      VectorExpressions.norm(col(vecCol)).as("qn"),
      VectorExpressions.lshBucket(col(vecCol), numPlanes).as("bucket"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      VectorExpressions.norm(col(vecCol)).as("cn"),
      VectorExpressions.lshBucket(col(vecCol), numPlanes).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"), col("bucket"),
        (VectorExpressions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .as("cos"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
  }

  /** Embedding-space outlier pruning (the "prototypicality" data-pruning
    * family — SemDeDup's sibling: instead of dropping docs too CLOSE to
    * each other, drop docs too FAR from their stratum's center, which is
    * where mislabeled/garbled/off-distribution documents live). Flags,
    * per stratum, the `pNum/pDen` fraction of vectors farthest from the
    * stratum centroid.
    *
    * Everything is fixed-point so the verdict is engine-exact: vectors
    * are globally int8-quantized ([[quantizeGlobal]], the q63
    * discipline), the centroid is the per-dimension floor-divided integer
    * mean (pmod-adjusted so truncating and flooring engines agree on
    * negative sums), distances are integer squared-L2, and the per-stratum
    * fence is the exact discrete cumulative-count quantile over the
    * distance HISTOGRAM ([[TextOps.stratumLengthGate]]'s selector — no
    * percentile_approx, no float fences). A vector exactly ON the fence
    * is kept; only strictly-greater distances are outliers, so the
    * flagged fraction is ≤ pNum/pDen always.
    *
    * Scale shape: one quantize pass (global max rides in as a broadcast
    * 1-row aggregate); centroid sums via posexplode — the shuffle output
    * is strata × dim rows however big the corpus is; centroids rejoin as
    * a broadcast array table; dist² is a codegen zip_with fold, map-side;
    * the fence table is strata-sized and broadcast back. No global
    * window (the running sum partitions by stratum over the histogram,
    * never the corpus), no collect, no UDF.
    *
    * Output: (idCol, stratum, dist2, is_outlier) — one row per vector.
    */
  def embeddingOutliers(
      df: DataFrame, idCol: String, vecCol: String, strataCol: String,
      pNum: Int, pDen: Int): DataFrame = {
    require(pNum > 0 && pNum < pDen, "need 0 < pNum/pDen < 1")
    val q = quantizeGlobal(
      df.select(col(idCol), col(strataCol), col(vecCol)), vecCol, "__qv")
      .localCheckpoint(true) // one quantize pass feeds sums AND distances
    val sums = q
      .select(col(strataCol), posexplode(col("__qv")).as(Seq("__d", "__v")))
      .groupBy(col(strataCol), col("__d"))
      .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
    val cent = sums
      .withColumn("__c", expr("(__s - pmod(__s, __n)) div __n"))
      .groupBy(col(strataCol))
      .agg(array_sort(collect_list(struct(col("__d"), col("__c"))))
        .as("__dc"))
      .select(col(strataCol), expr("transform(__dc, x -> x.__c)")
        .as("__cent"))
    val dist = q.join(broadcast(cent), Seq(strataCol))
      .select(col(idCol), col(strataCol).as("stratum"),
        expr("aggregate(zip_with(__qv, __cent, (a, b) -> (a - b) * (a - b)), " +
          "0L, (s, x) -> s + x)").as("dist2"))
      .localCheckpoint(true) // feeds the histogram AND the final gate
    val fences = TextOps.quantileFences(dist, "dist2", "stratum",
        Seq(pDen - pNum), pDen)
      .withColumnRenamed("__f1", "__fence")
    dist.join(broadcast(fences), Seq("stratum"))
      .select(col(idCol), col("stratum"), col("dist2"),
        (col("dist2") > col("__fence")).as("is_outlier"))
  }
}
