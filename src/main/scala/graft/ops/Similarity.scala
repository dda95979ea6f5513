package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset}

/** Similarity search over embedding columns (`Array[Float]`): an EXACT
  * all-pairs cosine join that scales (block-pair / triangle join), and an
  * IVF-bucketed approximate top-k as the ANN scale path with a
  * brute-force baseline elsewhere (PipelineQueries.q_knn_brute).
  *
  * Scale notes:
  *  - `cosinePairs` replaces the round-1 broadcast nested-loop cross
  *    join (O(n²) pair rows through the planner). Each vector is
  *    replicated to `numBlocks` buckets; bucket (i,j) receives exactly
  *    blocks i and j and computes its dot products in a tight primitive
  *    loop. One shuffle of n·G rows, perfectly even buckets (id-based
  *    blocking), no BroadcastNestedLoopJoin anywhere in the plan. Exact
  *    all-pairs is inherently O(n²) FLOPs — this spreads them evenly
  *    across the cluster, which is the correct *exact* design at scale;
  *    for sub-quadratic work switch to `ivfTopK`.
  *  - `ivfTopK` probes `nprobe` of `numCentroids` inverted lists, so the
  *    candidate side is a ~nprobe/numCentroids fraction of the data and
  *    stays partitioned; centroids and probe lists are tiny broadcasts.
  */
object Similarity {

  case class Vec(id: Long, v: Array[Double])
  case class BucketedVec(bi: Int, bj: Int, g: Int, id: Long,
      v: Array[Double])
  case class SimPair(vec_a: Long, vec_b: Long, sim: Double)
  case class Scored(qid: Long, nid: Long, sim: Double)

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  /** Σ xᵢyᵢ / √Σx² as SQL higher-order functions — ascending-index
    * summation, bit-identical to the driver-side [[dot]]/[[norm]]
    * loops AND the DuckDB oracle, so swapping a typed `Dataset.map`
    * for these keeps every hash gate green while the stage stays a
    * plain codegen'd projection (no object ser/de boundary).
    */
  private def dotSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0.0D, (acc, z) -> acc + z)"
  private def normSql(a: String): String =
    s"sqrt(aggregate(transform($a, x -> x * x), 0.0D, (acc, z) -> acc + z))"

  /** The coarse-quantizer centroid set as ONE array literal column, and
    * the argmax-by-(sim, lowest-cid) assignment as a single expression
    * over it: `array_max` orders structs lexicographically, so
    * (sim, -cid) picks the highest similarity and breaks ties toward
    * the smallest centroid id — exactly the strict-`>` scan order of
    * the old driver loop. Requires columns `v` and `__nr` (= ‖v‖).
    */
  private def centroidLit(
      centroids: Array[(Long, Array[Double], Double)]) =
    typedLit(centroids.toSeq.map { case (cid, cv, cn) =>
      (cid, cv.toSeq, cn) })
  private val ASSIGN_CELL_SQL: String =
    "array_max(transform(__cents, c -> struct(" +
      s"${dotSql("c._2", "v")} / (c._3 * __nr) AS sim, " +
      "-c._1 AS neg, c._1 AS cid))).cid"

  private def asVecs(vecs: DataFrame, idCol: String,
      vecCol: String): Dataset[Vec] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(col(idCol).cast("long").as("id"),
      expr(s"transform($vecCol, x -> cast(x as double))").as("v")).as[Vec]
  }

  /** Exact all-pairs cosine similarity >= `threshold`, emitted as
    * (vec_a < vec_b, sim). Arithmetic matches the SQL
    * `dot / (sqrt(Σa²) · sqrt(Σb²))` with ascending-index summation so
    * results hash-match a DuckDB `list_cosine_similarity` oracle.
    */
  def cosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numBlocks: Int = 8): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val G = numBlocks
    val bucketed = asVecs(vecs, idCol, vecCol).flatMap { r =>
      val g = (math.floorMod(r.id, G.toLong)).toInt
      (0 until G).map { k =>
        val (bi, bj) = if (g <= k) (g, k) else (k, g)
        BucketedVec(bi, bj, g, r.id, r.v)
      }
    }
    bucketed.groupByKey(b => (b.bi, b.bj)).flatMapGroups {
      (key: (Int, Int), it: Iterator[BucketedVec]) =>
        val bi = key._1
        val left = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Array[Double], Double)]
        val right = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Array[Double], Double)]
        it.foreach { b =>
          val e = (b.id, b.v, norm(b.v))
          if (b.g == bi) left += e else right += e
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[SimPair]
        def emit(a: (Long, Array[Double], Double),
            b: (Long, Array[Double], Double)): Unit = {
          val sim = dot(a._2, b._2) / (a._3 * b._3)
          if (sim >= threshold) {
            if (a._1 < b._1) out += SimPair(a._1, b._1, sim)
            else out += SimPair(b._1, a._1, sim)
          }
        }
        if (right.isEmpty) { // single-block bucket (i, i)
          var i = 0
          while (i < left.length) {
            var j = i + 1
            while (j < left.length) { emit(left(i), left(j)); j += 1 }
            i += 1
          }
        } else {
          var i = 0
          while (i < left.length) {
            var j = 0
            while (j < right.length) { emit(left(i), right(j)); j += 1 }
            i += 1
          }
        }
        out.iterator
    }.toDF()
  }

  /** Spherical k-means coarse quantizer training (Lloyd iterations with
    * cosine assignment): seeds = the `numCentroids` lowest-id vectors
    * (deterministic), update = per-cell vector mean, empty cells keep
    * their centroid. Each iteration is one mapPartitions pass with
    * in-partition accumulation + a `reduceByKey` over at most
    * `partitions × numCentroids` partial sums — the n×d data never
    * shuffles and nothing quadratic materializes, so training cost is
    * `iterations` linear passes regardless of scale.
    *
    * Every iteration's centroid means are quantized to 9 decimal places
    * (ties away from zero, DuckDB `round` semantics) so the trained
    * centroids are ENGINE-REPRODUCIBLE: float summation order — Spark's
    * partition-merge order vs any other engine's — perturbs a mean only
    * below 1e-12, so the quantized value is identical and the next
    * iteration starts from bit-equal centroids everywhere.
    */
  def trainCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, iterations: Int): Array[(Long, Array[Double])] = {
    val spark = vecs.sparkSession
    val ds = asVecs(vecs, idCol, vecCol)
    var cents: Array[(Long, Array[Double], Double)] =
      ds.filter(_.id < numCentroids).collect().sortBy(_.id)
        .map(c => (c.id, c.v, norm(c.v)))
    (1 to iterations).foreach { _ =>
      val bc = spark.sparkContext.broadcast(cents)
      val partials = ds.rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap
          .empty[Long, (Array[Double], Long)]
        it.foreach { r =>
          val nr = norm(r.v)
          var best = -1L
          var bestSim = Double.NegativeInfinity
          bc.value.foreach { case (cid, cv, cn) =>
            val sim = dot(r.v, cv) / (nr * cn)
            if (sim > bestSim) { bestSim = sim; best = cid }
          }
          val (sum, n) = acc.getOrElseUpdate(best,
            (new Array[Double](r.v.length), 0L))
          var i = 0
          while (i < r.v.length) { sum(i) += r.v(i); i += 1 }
          acc(best) = (sum, n + 1)
        }
        acc.iterator
      }.reduceByKey { (a: (Array[Double], Long), b: (Array[Double], Long)) =>
        val (s1, n1) = a; val (s2, n2) = b
        var i = 0
        while (i < s1.length) { s1(i) += s2(i); i += 1 }
        (s1, n1 + n2)
      }.collectAsMap()
      cents = cents.map { case (cid, cv, cn) =>
        partials.get(cid) match {
          case Some((sum, n)) if n > 0 =>
            val mean = sum.map(s => BigDecimal(s / n)
              .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
            (cid, mean, norm(mean))
          case _ => (cid, cv, cn) // empty cell keeps its centroid
        }
      }
    }
    cents.map { case (cid, cv, _) => (cid, cv) }
  }

  /** IVF approximate nearest neighbors over a TRAINED spherical
    * k-means quantizer — the production scale path; `ivfTopK` below
    * keeps the deterministic untrained quantizer the DuckDB oracle can
    * mirror.
    */
  def kmeansIvfTopK(vecs: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, nprobe: Int, k: Int, queryMaxId: Long,
      iterations: Int = 5): DataFrame = {
    val cents = trainCentroids(vecs, idCol, vecCol, numCentroids,
      iterations).map { case (cid, cv) => (cid, cv, norm(cv)) }
    ivfSearch(vecs, idCol, vecCol, cents, nprobe, k, queryMaxId)
  }

  /** Persist a trained quantizer as a (tiny) Delta table so an index
    * built once serves every subsequent query — training is linear
    * passes over the corpus, far too expensive to repeat per query at
    * 100 TB. The table IS the index metadata: versioned, transactional,
    * time-travelable like any other table.
    */
  def persistCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String, cents: Array[(Long, Array[Double])]): Unit = {
    import spark.implicits._
    val df = cents.toSeq.toDF("cid", "cv")
    if (!graft.delta.DeltaTable.isDeltaTable(spark, path))
      graft.delta.DeltaTable.create(spark, path, df.schema)
    graft.delta.DeltaTable.forPath(spark, path).overwrite(df)
  }

  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Long, Array[Double])] = {
    import spark.implicits._
    graft.delta.DeltaTable.forPath(spark, path).toDF
      .select(col("cid").cast("long"), col("cv"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
  }

  /** IVF search against a PERSISTED quantizer: train-once (first call
    * creates the centroid table), search-many (every later call loads
    * it — no training passes).
    */
  def kmeansIvfTopKPersisted(vecs: DataFrame, idCol: String,
      vecCol: String, centroidsPath: String, numCentroids: Int,
      nprobe: Int, k: Int, queryMaxId: Long,
      iterations: Int = 5): DataFrame = {
    val spark = vecs.sparkSession
    if (!graft.delta.DeltaTable.isDeltaTable(spark, centroidsPath))
      persistCentroids(spark, centroidsPath,
        trainCentroids(vecs, idCol, vecCol, numCentroids, iterations))
    val cents = loadCentroids(spark, centroidsPath)
      .map { case (cid, cv) => (cid, cv, norm(cv)) }
    ivfSearch(vecs, idCol, vecCol, cents, nprobe, k, queryMaxId)
  }

  /** IVF approximate nearest neighbors: deterministic coarse quantizer
    * (centroids = the `numCentroids` lowest-id vectors; assignment by max
    * cosine, ties to the lowest centroid id), queries = ids <
    * `queryMaxId` probe their `nprobe` nearest cells and exhaustively
    * rerank candidates. Output (qid, nid, sim) with per-query top `k`
    * (sim desc, nid asc).
    */
  /** Exact brute-force cosine top-k: queries are the vectors with
    * id < `queryMaxId` (broadcast — the query set is small by
    * construction), candidates are the full corpus, ties break to the
    * lowest neighbor id. Output: (qid, nid, sim). This is the baseline
    * the IVF variants approximate, and the shared implementation behind
    * q_knn_brute / q_knn_classify / q_ann_recall.
    */
  def bruteTopK(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, queryMaxId: Long): DataFrame = {
    val e = vecs.select(col(idCol).as("__id"),
      expr(s"transform($vecCol, x -> cast(x as double))").as("__v"))
    val q = e.filter(col("__id") < queryMaxId)
      .select(col("__id").as("qid"), col("__v").as("qv"))
    val c = e.select(col("__id").as("nid"), col("__v").as("nv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    c.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("sim", expr(
        "aggregate(zip_with(qv, nv, (x, y) -> x * y), 0.0D, (acc, z) -> acc + z)" +
        " / (sqrt(aggregate(transform(qv, x -> x * x), 0.0D, (acc, z) -> acc + z))" +
        "  * sqrt(aggregate(transform(nv, x -> x * x), 0.0D, (acc, z) -> acc + z)))"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("qid"), col("nid"), col("sim"))
  }

  /** Scalar-quantized (SQ8) ANN: per-dimension corpus [min,max] →
    * every component coded to one byte → search reconstructs the bin
    * midpoint (code + 0.5) and reranks against EXACT query vectors
    * (asymmetric distance, the faiss-SQ8 design). The candidate side
    * shrinks 8× (fp64: 32×) in memory while staying partitioned; the
    * quantizer is a 2×dim stats row — a broadcast scalar at any corpus
    * size, trained in one aggregation pass with no iterations (fully
    * deterministic, so an exact SQL oracle can mirror it).
    */
  def sq8TopK(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, queryMaxId: Long): DataFrame = {
    val e = vecs.select(col(idCol).as("__id"),
      expr(s"transform($vecCol, x -> cast(x as double))").as("__v"))
    val mm = e.select(posexplode(col("__v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(expr("transform(array_sort(collect_list(struct(i, mn))), " +
          "s -> s.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(i, mx))), " +
          "s -> s.mx)").as("mxs"))
    // code = min(255, floor((x - mn) · 256 / (mx - mn))) — 256 uniform
    // bins, x = mx clamps into the top bin (the faiss-SQ8 grid);
    // constant dims code 0. Reconstruction = the SAME grid's bin
    // midpoint. Both stay inside codegen'd HOFs.
    val enc = e.crossJoin(broadcast(mm))
      .withColumn("nv", expr(
        "transform(sequence(0, size(__v) - 1), i -> " +
          "CASE WHEN mxs[i] = mns[i] THEN mns[i] ELSE " +
          "mns[i] + (cast(least(255, cast(floor((__v[i] - mns[i]) * " +
          "256.0D / (mxs[i] - mns[i])) as int)) as double) + 0.5D) * " +
          "(mxs[i] - mns[i]) / 256.0D END)"))
      .select(col("__id").as("nid"), col("nv"))
    val q = e.filter(col("__id") < queryMaxId)
      .select(col("__id").as("qid"), col("__v").as("qv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    enc.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("sim",
        expr(s"${dotSql("qv", "nv")} / (${normSql("qv")} * ${normSql("nv")})"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("qid"), col("nid"), col("sim"))
  }

  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, nprobe: Int, k: Int, queryMaxId: Long): DataFrame = {
    val centroids = asVecs(vecs, idCol, vecCol)
      .filter(_.id < numCentroids).collect().sortBy(_.id)
      .map(c => (c.id, c.v, norm(c.v)))
    ivfSearch(vecs, idCol, vecCol, centroids, nprobe, k, queryMaxId)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — cluster the corpus with the coarse quantizer,
    * then prune near-duplicates WITHIN each cluster): a vector is a
    * duplicate when some lower-id vector in its cluster has cosine
    * >= `tau`. This is the order-free deterministic variant of the
    * paper's keep-one rule — dedup is against every lower-id member,
    * not just kept ones, so the answer is independent of scan order
    * and an exact SQL oracle can mirror it.
    *
    * Scale: assignment is one broadcast-centroids map pass (no
    * shuffle of the n×d side beyond the cell groupBy); the pairwise
    * step is cell-local, O(Σ|cell|²) instead of O(n²) — the whole
    * point of clustering first (the paper runs exactly this shape at
    * 100M+ docs). Cells are balanced by the quantizer; a pathological
    * giant cell would swap this loop for `cosinePairs`' block-pair
    * join scoped to that cell.
    *
    * Returns (vec_id, cell, dup_of, is_dup): `dup_of` = the LOWEST
    * qualifying earlier neighbor (null when kept), `is_dup` as 0/1.
    */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, tau: Double): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val ds = asVecs(vecs, idCol, vecCol)
    val centroids = ds.filter(_.id < numCentroids).collect().sortBy(_.id)
      .map(c => (c.id, c.v, norm(c.v)))
    // assignment as a codegen'd projection over the centroid literal;
    // only the inherently imperative cell-local O(|cell|²) loop below
    // crosses into typed-object land
    val assigned = ds.toDF()
      .withColumn("__nr", expr(normSql("v")))
      .withColumn("__cents", centroidLit(centroids))
      .select(expr(ASSIGN_CELL_SQL).as("cell"), col("id"), col("v"))
      .as[(Long, Long, Array[Double])]
    assigned.groupByKey(_._1).flatMapGroups {
      (cell: Long, it: Iterator[(Long, Long, Array[Double])]) =>
        val members = it.toArray.sortBy(_._2)
        val norms = members.map(m => norm(m._3))
        members.indices.iterator.map { i =>
          val id = members(i)._2
          var dupOf = -1L
          var j = 0
          // ascending j: the first hit IS the lowest qualifying id
          while (j < i && dupOf < 0) {
            val sim = dot(members(j)._3, members(i)._3) /
              (norms(j) * norms(i))
            if (sim >= tau) dupOf = members(j)._2
            j += 1
          }
          (id, cell,
            if (dupOf < 0) None else Some(dupOf),
            if (dupOf < 0) 0 else 1)
        }
    }.toDF("vec_id", "cell", "dup_of", "is_dup")
  }

  /** Build or incrementally extend a PERSISTED IVF index: the index IS
    * a Delta table partitioned by `cell`, so the inverted lists are
    * physical partitions — a query probing `nprobe` cells reads
    * exactly those partitions through ordinary partition pruning (the
    * inverted-list seek falls out of the storage layout; nothing
    * custom in the read path). Incremental maintenance: the quantizer
    * trains ONCE (first call; persisted as its own Delta table) and
    * later vector batches assign against the FIXED centroids and
    * append transactionally — no retraining, no rewrite of existing
    * postings, and a reader mid-append sees the old index or the new
    * one, never a partial batch. At 100 TB of embeddings this is the
    * difference between re-indexing the corpus per batch and one
    * narrow assignment pass per batch.
    */
  def ivfIndexAppend(vecs: DataFrame, idCol: String, vecCol: String,
      centroidsPath: String, indexPath: String, numCentroids: Int,
      iterations: Int): Long = {
    val spark = vecs.sparkSession
    import spark.implicits._
    if (!graft.delta.DeltaTable.isDeltaTable(spark, centroidsPath))
      persistCentroids(spark, centroidsPath,
        trainCentroids(vecs, idCol, vecCol, numCentroids, iterations))
    val cents = loadCentroids(spark, centroidsPath)
      .map { case (cid, cv) => (cid, cv, norm(cv)) }
    val bcCent = spark.sparkContext.broadcast(cents)
    val assigned = asVecs(vecs, idCol, vecCol).map { r =>
      val nr = norm(r.v)
      var best = -1L
      var bestSim = Double.NegativeInfinity
      bcCent.value.foreach { case (cid, cv, cn) =>
        val sim = dot(r.v, cv) / (nr * cn)
        if (sim > bestSim) { bestSim = sim; best = cid }
      }
      (r.id, r.v, best)
    }.toDF("vec_id", "v", "cell")
    if (!graft.delta.DeltaTable.isDeltaTable(spark, indexPath))
      graft.delta.DeltaTable.create(spark, indexPath, assigned.schema,
        partitionColumns = Seq("cell"))
    graft.delta.DeltaTable.forPath(spark, indexPath).append(assigned)
  }

  /** Search a persisted IVF index: probe cells per query against the
    * persisted quantizer (driver-side — the quantizer is tiny by
    * construction), then ONE partition-pruned scan of exactly the
    * probed cells feeds the rerank. Output (qid, nid, sim), per-query
    * top `k`, ties to the lowest nid.
    */
  def ivfIndexSearch(queries: DataFrame, idCol: String, vecCol: String,
      centroidsPath: String, indexPath: String, nprobe: Int,
      k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = loadCentroids(spark, centroidsPath)
      .map { case (cid, cv) => (cid, cv, norm(cv)) }
    val qs = asVecs(queries, idCol, vecCol).collect().sortBy(_.id)
    // probe rows carry their query vector + norm, so the rerank after
    // the broadcast join is a plain column expression (codegen'd), not
    // a typed map severing the stage
    val probes = qs.flatMap { q =>
      val nq = norm(q.v)
      cents.map { case (cid, cv, cn) => (cid, dot(q.v, cv) / (nq * cn)) }
        .sortBy { case (cid, sim) => (-sim, cid) }
        .take(nprobe)
        .map { case (cid, _) => (q.id, cid, q.v.toSeq, nq) }
    }.toSeq
    val cells = probes.map(_._2).distinct.sorted
    // the partition predicate prunes the scan to the probed cells —
    // unprobed inverted lists are never read
    val postings = graft.delta.DeltaTable.forPath(spark, indexPath)
      .scan(Some(s"cell IN (${cells.mkString(",")})")).toDF
    val probesDf = probes.toDF("qid", "cell", "qv", "qn")
    val scored = postings.join(broadcast(probesDf), "cell")
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"),
        expr(s"${dotSql("qv", "v")} / (qn * ${normSql("v")})").as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).drop("rk")
  }

  private def ivfSearch(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Long, Array[Double], Double)], nprobe: Int,
      k: Int, queryMaxId: Long): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val ds = asVecs(vecs, idCol, vecCol)

    // cell assignment is one narrow codegen'd projection over a
    // centroid-array literal — no object ser/de, no shuffle
    val assigned = ds.toDF()
      .withColumn("__nr", expr(normSql("v")))
      .withColumn("__cents", centroidLit(centroids))
      .select(col("id").as("nid"), col("v").as("nv"),
        expr(ASSIGN_CELL_SQL).as("cell"))

    // probe lists are driver-computed over the tiny query set; each
    // probe row CARRIES its query vector + norm so the rerank below is
    // a plain column expression after the broadcast join
    val queries = ds.filter(_.id < queryMaxId).collect().sortBy(_.id)
    val probes = queries.flatMap { q =>
      val nq = norm(q.v)
      centroids
        .map { case (cid, cv, cn) => (cid, dot(q.v, cv) / (nq * cn)) }
        .sortBy { case (cid, sim) => (-sim, cid) }
        .take(nprobe)
        .map { case (cid, _) => (q.id, cid, q.v.toSeq, nq) }
    }.toSeq.toDF("qid", "cell", "qv", "qn")

    val scored = assigned.join(broadcast(probes), "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        expr(s"${dotSql("qv", "nv")} / (qn * ${normSql("nv")})").as("sim"))

    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).drop("rk")
  }
}
