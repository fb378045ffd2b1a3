package graft.sources

import graft.functions.Vectors
import graft.ops.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index layout — the serving-path answer to the ANN
  * decade measurements (SCALE_r08): a self-contained `ann_*` query
  * re-pays the linear normalize/assign/encode scan on every run, but a
  * 100 TB deployment builds the index ONCE at write time and amortizes
  * it over every query. This object is that write path, shaped like
  * the other layout sources ([[BucketedLayout]] join co-location,
  * [[SpatialLayout]] Z2 clustering, [[PartitionedLayout]] DPP):
  *
  *  - `build` trains the coarse quantizer with the same sample-bounded
  *    driver-side Lloyd as [[Ann.ivfTopK]] (identical seeds → identical
  *    centroids), assigns every vector ONCE, and writes the corpus
  *    hive-partitioned by cell id (`list=…/` directories) with the
  *    centroid table persisted alongside — so query time never
  *    retrains, never re-assigns, and never scans cells it won't probe;
  *  - `topK` reads the centroid table (nlist rows), derives each
  *    query's nprobe cells, and joins the probe set against the
  *    partitioned corpus: Catalyst injects the probe keys as a runtime
  *    `dynamicpruning` subquery into the scan's PartitionFilters
  *    (verified by AnnLayoutSpec), so the scan READS only the probed
  *    `list=` directories — at nlist=1024/nprobe=8 that is <1% of the
  *    corpus bytes, the same pruning regime src_dpp proves on the
  *    time axis.
  *
  * The layout is write-once/read-many and composes with [[Compaction]]
  * (cells are directories; a skewed cell is just a big directory that
  * still prunes). Re-ranking stays exact: cosines are computed on the
  * stored raw vectors of probed cells only.
  */
object AnnLayout {

  /** Train (sample-bounded), assign once, persist: `path/vectors/list=…`
    * parquet + `path/centroids` (nlist rows: list id, centroid array).
    */
  def build(df: DataFrame, idCol: String, vecCol: String, path: String,
            nlist: Int = 0, iters: Int = 2, seed: Long = 7): Unit = {
    // nlist = 0 → the FAISS-guideline computed default (4√n, SCALE_r08.md:118)
    val nl = if (nlist > 0) nlist else Ann.defaultNlist(df.count())
    import graft.functions.FunctionDefs.call
    val spark = df.sparkSession
    val centroids = Ann.kmeansCentroids(df, idCol, vecCol, nl, iters, seed)
    val cent = typedlit(centroids.toSeq)
    df.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("vec"))
      .withColumn("list", call("ivf_assign", col("vec"), cent))
      .write.mode("overwrite").partitionBy("list").parquet(s"$path/vectors")
    import spark.implicits._
    centroids.toSeq.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Persisted IVF-PQ layout — [[build]]'s cells plus PQ code columns,
    * the FAISS `IndexIVFPQ` on-disk shape: training (coarse + all m
    * residual codebooks) runs through [[Ann.trainIvfPq]]'s single
    * sample job, the corpus pays ONE assign+encode pass at write time,
    * and the layout stores (id, vec, codes) partitioned by cell. The
    * serving economics follow from parquet column pruning + DPP
    * together: the ADC scoring scan projects only (id, codes) — m
    * small ints per row, never the dim-float vector — over only the
    * probed `list=` directories, and the exact re-rank fetches raw
    * vectors for the refine·k shortlist rows alone. Centroids AND
    * codebooks persist alongside, so query time never trains.
    */
  def buildPq(df: DataFrame, idCol: String, vecCol: String, path: String,
              nlist: Int = 0, m: Int = 8, ksub: Int = 32,
              iters: Int = 2, seed: Long = 7): Unit = {
    import graft.functions.FunctionDefs.call
    val spark = df.sparkSession
    val raw = df.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("vec"))
    val c = raw
      .withColumn("__n", call("vec_norm", col("vec")))
      .withColumn("__vn", when(col("__n") === 0.0, col("vec"))
        .otherwise(expr("transform(vec, x -> x / __n)")))
      .select("id", "vec", "__vn")
    val nl = if (nlist > 0) nlist else Ann.defaultNlist(df.count())
    val model = Ann.trainIvfPq(
      c.select("id", "__vn"), nl, m, ksub, iters, seed, maxTrain = 0)
    val cent = typedlit(model.centroids.toSeq)
    val assigned = c
      .withColumn("list", call("ivf_assign", col("__vn"), cent))
      .withColumn("__r",
        zip_with(col("__vn"), element_at(cent, col("list") + 1), (x, y) => x - y))
    val codeCols = (0 until m).map(j =>
      call("ivf_assign", slice(col("__r"), j * model.subdim + 1, model.subdim),
        typedlit(model.codebooks(j).toSeq)))
    assigned
      .select(col("id"), col("vec"), array(codeCols: _*).as("codes"), col("list"))
      .write.mode("overwrite").partitionBy("list").parquet(s"$path/vectors")
    import spark.implicits._
    model.centroids.toSeq.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    Seq((m, ksub, model.subdim, model.flatCodebooks))
      .toDF("m", "ksub", "subdim", "flat")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** ADC probe-and-refine over the persisted PQ layout, mirroring
    * [[Ann.ivfPqTopK]]'s search arithmetic exactly (same probe q·c
    * term, same native pq_adc scoring, same bounded-heap shortlist and
    * exact-cosine re-rank) — with identical build params the results
    * are identical, so the zero-error regime over the PERSISTED index
    * still equals brute force (ann_pq_layout_full). The scoring scan
    * reads (id, codes) of probed cells only; raw vectors are fetched
    * for the shortlist join alone.
    */
  def pqTopK(s: SparkSession, path: String,
             queries: DataFrame, qidCol: String, qvecCol: String,
             k: Int, nprobe: Int = 0, refine: Int = 10): DataFrame = {
    import graft.functions.FunctionDefs.{call, callAgg}
    val centRows = Parquet.read(s, s"$path/centroids").orderBy("list").collect()
    // nprobe = 0 → nlist/16 (the layout knows its own nlist)
    val np = if (nprobe > 0) nprobe else Ann.defaultNprobe(centRows.length)
    val cent = typedlit(centRows.map(_.getSeq[Double](1)).toSeq)
    val cb = Parquet.read(s, s"$path/codebooks").head()
    val m = cb.getInt(0)
    val flatLit = typedlit(cb.getSeq[Double](3))

    val q = queries.select(col(qidCol).as("qid"), Vectors.toDouble(col(qvecCol)).as("__qv"))
      .withColumn("__qn", call("vec_norm", col("__qv")))
      .withColumn("__qvn", when(col("__qn") === 0.0, col("__qv"))
        .otherwise(expr("transform(__qv, x -> x / __qn)")))
      .select("qid", "__qv", "__qvn")
    val probes = q.select(col("qid"), col("__qvn"))
      .withColumn("list", explode(call("ivf_probes", col("__qvn"), cent, lit(np))))
      .withColumn("__qdotc",
        aggregate(
          zip_with(col("__qvn"), element_at(cent, col("list") + 1), (x, y) => x * y),
          lit(0.0), (a, x) => a + x))

    val vectors = Tombstones.without(s, path, Parquet.read(s, s"$path/vectors"))
    val shortlist = vectors.select("id", "codes", "list")
      .join(broadcast(probes), "list")
      .filter(col("id") =!= col("qid"))
      .withColumn("__score",
        col("__qdotc") + call("pq_adc", col("__qvn"), col("codes"), flatLit, lit(m)))
      .groupBy("qid")
      .agg(callAgg("topk_by_score", col("id"), col("__score"), lit(refine * k)).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__t"))
      .select(col("qid"), col("__t.id").as("id"))
    Ann.rankTopK(
      shortlist
        .join(vectors.select("id", "vec"), "id")
        .join(broadcast(q.select("qid", "__qv")), "qid")
        .withColumn("cos", Vectors.cosine(col("__qv"), col("vec")))
        .select("qid", "id", "cos"),
      k)
  }

  /** Streaming index maintenance: newly-arriving vectors are assigned
    * to the EXISTING centroids (an append keeps the index geometry —
    * retraining is a rebuild, not an append, exactly as FAISS `add`
    * vs `train`) and land as new files inside their `list=`
    * directories; the next [[topK]] scan serves them with no pause and
    * no rewrite of existing data. The write goes through foreachBatch
    * as a plain partitioned append — NOT the parquet streaming sink,
    * whose `_spark_metadata` log would make every later batch read of
    * the directory list ONLY sink-written files and silently hide the
    * original build (the FileStreamSink mixed-directory trap). The
    * trade is delivery semantics: source offsets are checkpointed, so
    * a batch is never lost, but a crash between the append and the
    * offset commit can replay it (at-least-once); an index tolerates
    * that (a duplicated vector changes no top-k id set, and readers
    * needing strictness can dedup on id). The assignment expression is
    * the same `ivf_assign` the batch build runs, so a stream-appended
    * layout ranks identically to a batch re-assignment of the same
    * rows (AnnLayoutSpec pins full-probe == brute force over the
    * grown corpus).
    */
  def appendStream(s: SparkSession, path: String, stream: DataFrame,
                   idCol: String, vecCol: String,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.FunctionDefs.call
    val centRows = Parquet.read(s, s"$path/centroids").orderBy("list").collect()
    val cent = typedlit(centRows.map(_.getSeq[Double](1)).toSeq)
    stream.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("vec"))
      .withColumn("list", call("ivf_assign", col("vec"), cent))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("list").parquet(s"$path/vectors")
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
  }

  /** Logical deletes — the lifecycle op [[appendStream]]'s other half:
    * real served corpora REMOVE vectors (takedowns, dedup survivors,
    * retention). A rewrite of the hive-partitioned layout per delete
    * would be a full-corpus write, so deletes are [[Tombstones]] and
    * every query path ([[topK]], [[pqTopK]]) filters them before
    * ranking. [[compactCells]] is merge-on-write: it drops
    * tombstoned rows physically and the compacted layout starts with an
    * empty tombstone set. Deleting an id wins over any append of the
    * same id made BEFORE the delete; appending it again afterwards
    * does NOT resurrect it until the tombstone is compacted away — ids
    * are expected unique, so delete/re-add cycles should re-key.
    */
  def delete(s: SparkSession, path: String, ids: DataFrame,
             idCol: String = "id"): Unit =
    Tombstones.add(path, ids, idCol)

  /** Cell-preserving compaction — the maintenance op that closes the
    * [[appendStream]] lifecycle: every micro-batch append drops small
    * files into `list=` directories, and at 100 TB the per-file
    * open/footer cost would come to dominate the probed-cell scans.
    * One `repartitionByRange` on (list, id) restores target-sized,
    * id-clustered files while `partitionBy` keeps the cell directory
    * structure (files never span cells, so DPP pruning is unaffected);
    * centroids/codebooks copy through untouched. Tombstoned rows are
    * physically dropped ([[delete]]'s merge-on-write half) and the
    * destination starts tombstone-free — so compaction moves bytes and
    * applies deletes, never changes live results. A pre-existing
    * tombstone set at `dest` (a previously-used destination) is
    * cleared first: inherited tombstones would silently hide live
    * compacted rows from every query path.
    */
  def compactCells(s: SparkSession, src: String, dest: String,
                   targetRows: Long): Unit = {
    Tombstones.clear(s, dest)
    val df = Tombstones.without(s, src, Parquet.read(s, s"$src/vectors"))
    val n = df.count()
    val parts = math.max(1L, (n + targetRows - 1) / targetRows).toInt
    df.repartitionByRange(parts, col("list"), col("id"))
      .write.mode("overwrite").partitionBy("list").parquet(s"$dest/vectors")
    for (t <- Seq("centroids", "codebooks") if FsUtil.exists(s, s"$src/$t"))
      Parquet.read(s, s"$src/$t")
        .coalesce(1).write.mode("overwrite").parquet(s"$dest/$t")
  }

  /** Probe-and-rank over the persisted layout: per query, the nprobe
    * nearest cells from the stored centroid table, then an exact-cosine
    * top-k over ONLY those cells' directories (DPP prunes the rest).
    * Output: (qid, id, rank, cos) — same contract as [[Ann.ivfTopK]];
    * with identical build params and nprobe the results are identical
    * (AnnLayoutSpec pins it).
    */
  def topK(s: SparkSession, path: String,
           queries: DataFrame, qidCol: String, qvecCol: String,
           k: Int, nprobe: Int = 0): DataFrame = {
    import graft.functions.FunctionDefs.call
    val centRows = Parquet.read(s, s"$path/centroids")
      .orderBy("list").collect()
    val np = if (nprobe > 0) nprobe else Ann.defaultNprobe(centRows.length)
    val cent = typedlit(centRows.map(_.getSeq[Double](1)).toSeq)
    val probes = queries
      .select(col(qidCol).as("qid"), Vectors.toDouble(col(qvecCol)).as("__qv"))
      .withColumn("list", explode(call("ivf_probes", col("__qv"), cent, lit(np))))
    val vectors = Tombstones.without(s, path, Parquet.read(s, s"$path/vectors"))
    Ann.rankTopK(
      vectors.join(broadcast(probes), "list")
        .filter(col("id") =!= col("qid"))
        .withColumn("cos", Vectors.cosine(col("__qv"), col("vec"))),
      k)
  }
}
