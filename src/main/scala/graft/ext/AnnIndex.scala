package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosineSim, topCentroids}

/** X94 — incremental ANN index maintenance: the embedding-side analog of
  * X88's at-ingest media dedup index. A persisted IVF(-PQ) index is
  * created ONCE (train coarse centroids, optionally PQ codebooks, assign
  * the corpus, write the inverted lists); every later vector batch is
  * FOLDED in assign-only — nearest-centroid assignment (+ PQ encoding)
  * against the FROZEN models, appended to the persisted lists. No
  * retrain, no re-assignment of history: the production vector-store
  * ingest pattern (FAISS `add` after `train`).
  *
  * On-disk layout under `dir/`:
  *   `_commits/`   the [[graft.streaming.CommitLog]]; its head names the
  *                 published revision
  *   `rev=<n>-<u>/` one publish (epoch n, uuid u), immutable once committed:
  *     `centroids/`  k coarse centroids ([[Ivf.save]], KB-sized)
  *     `codebooks/`  m×k PQ codebooks ([[Pq.save]]; absent = raw-vector IVF)
  *     `attrs`       attribute column names, one per line (absent = none)
  *     `lists/`      parquet partitioned by (batch_id, list_id):
  *                   (id, codes|vector, attrs…) — the searchable index
  *
  * Correctness contract (spec-pinned):
  *  - FOLD ≡ REBUILD: assignment and encoding are deterministic functions
  *    of the frozen models, so folding batches one at a time yields
  *    exactly the rows a one-shot assignment of the union would —
  *    [[IvfIndexSpec]] compares the multisets.
  *  - REPLAY IDEMPOTENT: a batch's lists are stored through
  *    [[graft.streaming.BatchStore.write]]; re-folding (foreachBatch is
  *    at-least-once) replaces them with identical content.
  *  - QUERY: [[topK]] probes the query's `nprobe` nearest lists via a
  *    partition-pruned scan of `lists/` — folded rows are immediately
  *    searchable (the x94 oracle face pins a provable subcase: lossless
  *    codebooks + corpus-member queries ⇒ exact distances).
  *
  * Staleness is the FROZEN-MODEL tradeoff, watched rather than hidden:
  * [[retrainGate]] runs X93's embedding-distribution drift between a
  * reference sample (e.g. what the models trained on) and the incoming
  * batch; past the SMD threshold the fold should stop and a retrain run
  * ([[create]]) take over — assignment quality, not correctness, is what
  * degrades under drift.
  *
  * Scale shape: create = one training pass (sampleable) + one map-only
  * assignment scan; fold = map-only over the BATCH alone (history never
  * re-read, never re-encoded); query = queries (tiny) equi-joined to
  * nprobe/k of the lists. Nothing row-sized ever reaches the driver.
  */
object AnnIndex {

  /** An opened index: frozen models + the lists directory + the
    * attribute columns every list row carries (persisted at `attrs`
    * under the root so a later [[open]] — e.g. the streaming fold face —
    * writes schema-identical list files; a fold that dropped them would
    * make [[topKFiltered]] evaluate its predicate to NULL over streamed
    * rows and silently exclude them).
    *
    * The index is PUBLISHED through an epoch-fenced pointer
    * ([[graft.streaming.CommitLog]] at `dir/_commits`): each publish —
    * [[create]] (initial build or retrain), [[compact]] — writes a
    * fresh immutable `rev=<epoch>-<uuid>` subtree (models + attrs +
    * lists) and commits it with a CAS, so readers NEVER observe a torn
    * index: an opened Index pins `root` (one revision's paths) for its
    * lifetime, and a crash mid-publish or a lost CAS leaves an
    * uncommitted subtree the pointer never meets.
    *
    * @param root the revision subtree (`dir/rev=<n>-<uuid>`) this Index
    *   reads and folds into. */
  final case class Index(dir: String, coarse: Ivf.Model, pq: Option[Pq.Model],
      attrCols: Seq[String], root: String) {
    def listsDir: String = s"$root/lists"
  }

  /** The currently-published revision root under `dir`. */
  private def currentRoot(dir: String)(implicit spark: SparkSession): String = {
    val head = graft.streaming.CommitLog.current(spark, dir)
    require(head.nonEmpty, s"no published AnnIndex revision at $dir " +
      "(no commit under _commits) — build one with AnnIndex.create")
    s"$dir/${head.get.version}"
  }

  /** Persist/load the index's attribute-column manifest. One name per
    * line; absent file = no attributes. */
  private def saveAttrs(dir: String, attrCols: Seq[String])
      (implicit spark: SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/attrs")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (attrCols.isEmpty) { fs.delete(p, false); () }
    else {
      val out = fs.create(p, true)
      try out.write(attrCols.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  private def loadAttrs(dir: String)(implicit spark: SparkSession): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/attrs")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
        .filter(_.nonEmpty)
      finally in.close()
    }
  }

  /** Train models on the corpus and build the initial index (batch 0).
    * @param pqSubspaces Some(m) = IVF-PQ with an m-subspace codebook
    *   trained on the corpus (lossy, compact); None = raw-vector IVF.
    * @param attrCols scalar attribute columns of the corpus carried INTO
    *   the inverted lists (the Milvus/FAISS-IDSelector scalar-field
    *   pattern) so [[topKFiltered]] can push its predicate into the
    *   list-probe parquet scan instead of joining a side table. */
  def create(corpus: DataFrame, dir: String, k: Int, iters: Int = 3,
      pqSubspaces: Option[(Int, Int)] = None, seed: Long = 42,
      idCol: String = "vec_id", vecCol: String = "embedding",
      attrCols: Seq[String] = Nil)
      (implicit spark: SparkSession): Index = {
    val coarse = Ivf.train(corpus, k = k, iters = iters, seed = seed,
      vecCol = vecCol)
    val pq = pqSubspaces.map { case (m, kCodes) =>
      Pq.train(corpus, m = m, k = kCodes, iters = iters, seed = seed,
        vecCol = vecCol)
    }
    createWithModels(corpus, dir, coarse, pq, idCol, vecCol, attrCols)
  }

  /** Build the index under caller-supplied FROZEN models (e.g.
    * [[Pq.exactModel]] for the provable subcase, or models trained on a
    * sample elsewhere) and PUBLISH it atomically: the whole subtree
    * (models, attrs, corpus lists) is written into a fresh revision
    * directory first and the pointer CAS-commits LAST — a crash at any
    * earlier point leaves the previous revision live and intact (this
    * subsumes the r15 ADVICE manifest-ordering fix: a manifest can never
    * describe list files another schema produced). On an existing index
    * dir this IS the retrain-and-swap: readers holding the old Index
    * keep their pinned revision; re-[[open]] sees the new one. */
  def createWithModels(corpus: DataFrame, dir: String, coarse: Ivf.Model,
      pq: Option[Pq.Model], idCol: String = "vec_id",
      vecCol: String = "embedding", attrCols: Seq[String] = Nil)
      (implicit spark: SparkSession): Index =
    // the corpus is batch −1: structured-streaming batch ids start at 0,
    // so a stream folding into this index can never overwrite it
    publish(dir, coarse, pq, attrCols) { idx =>
      fold(corpus, idx, batchId = -1L, idCol, vecCol)
    }._1

  /** Publish one revision: read the head epoch E, write the models, the
    * attribute manifest and (through `writeLists`) the lists into this
    * publish's own `rev=<E+1>-<uuid>` subtree — a CAS loser cannot tear
    * the winner's — then CAS-commit it as epoch E+1. Anything
    * `writeLists` throws aborts the publish before the commit. */
  private def publish[T](dir: String, coarse: Ivf.Model, pq: Option[Pq.Model],
      attrCols: Seq[String])(writeLists: Index => T)
      (implicit spark: SparkSession): (Index, T) = {
    val epoch = graft.streaming.CommitLog.current(spark, dir)
      .map(_.epoch).getOrElse(0L)
    val revName = s"rev=${epoch + 1}-${java.util.UUID.randomUUID()}"
    val idx = Index(dir, coarse, pq, attrCols, root = s"$dir/$revName")
    Ivf.save(coarse, s"${idx.root}/centroids")
    pq.foreach(m => Pq.save(m, s"${idx.root}/codebooks"))
    saveAttrs(idx.root, attrCols)
    val written = writeLists(idx)
    val won = graft.streaming.CommitLog.tryCommit(spark, dir, epoch, revName)
    require(won, s"concurrent index publish at $dir (epoch $epoch) " +
      "— re-read and retry")
    (idx, written)
  }

  /** Open the CURRENT revision of a persisted index (models load
    * bit-identically — the Ivf/Pq ModelStore contract). The returned
    * Index pins this revision: queries and folds against it keep using
    * its files even across a concurrent [[compact]]/retrain publish.
    * Fails, naming `dir`, when no revision was ever published there. */
  def open(dir: String)(implicit spark: SparkSession): Index = {
    val root = currentRoot(dir)
    val pqPath = new org.apache.hadoop.fs.Path(s"$root/codebooks")
    val hasPq = pqPath.getFileSystem(spark.sessionState.newHadoopConf())
      .exists(pqPath)
    Index(dir, Ivf.load(s"$root/centroids"),
      if (hasPq) Some(Pq.load(s"$root/codebooks")) else None,
      loadAttrs(root), root = root)
  }

  /** Fold one batch into the index: assign-only against the frozen
    * models, one map-only pass over the BATCH, stored under its own
    * `(batch_id, list_id)` subtree by [[graft.streaming.BatchStore.write]]
    * — so replays are idempotent, a corrected re-fold replaces the batch
    * wholesale (no orphan lists), and folds of different batch ids may
    * run concurrently (see BatchStore for the replay and concurrency
    * contract; unlike [[graft.streaming.StreamingUpsert]]'s whole-snapshot
    * rewrite, nothing needs a CommitLog CAS). The streaming face
    * guarantees batch-id uniqueness via its checkpoint; batch callers
    * must partition the id space per writer. */
  def fold(batch: DataFrame, index: Index, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    // the index's attribute manifest is the lists schema contract: a
    // batch missing a declared attribute column must fail HERE, not as
    // NULL-evaluated predicates at the first filtered search
    val missing = index.attrCols.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"fold: batch is missing index attribute column(s) ${missing.mkString(", ")} " +
        s"declared at index creation (attrCols=${index.attrCols.mkString(", ")})")
    val assigned = Ivf.assign(batch, index.coarse, vecCol)
    val attrs = index.attrCols.map(c => col(s"`$c`"))
    val rows = index.pq match {
      case Some(m) => assigned.select(col(idCol).as("id") +: col("list_id") +:
        Pq.encode(col(vecCol), m).as("codes") +: attrs: _*)
      case None => assigned.select(col(idCol).as("id") +: col("list_id") +:
        col(vecCol).as("vector") +: attrs: _*)
    }
    graft.streaming.BatchStore.write(rows, index.listsDir, batchId, "list_id")
  }

  /** The persisted inverted lists (id, list_id, codes|vector, batch_id). */
  def lists(index: Index)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(index.listsDir)

  /** Top-k per query over the persisted index: the query batch explodes
    * to its `nprobe` nearest lists and equi-joins the (partition-pruned)
    * lists scan. IVF-PQ indexes score by ADC over the stored codes
    * (squared L2 ascending, ties by id); raw IVF scores exact cosine
    * (descending, ties by id). Index and ad-hoc paths ([[Pq.ivfPqTopK]] /
    * [[Ivf.topK]]) rank through the one [[Similarity.rankTopK]], so they
    * cannot rank differently. */
  def topK(index: Index, queries: DataFrame, k: Int, nprobe: Int = 4,
      qidCol: String = "query_id", vecCol: String = "embedding")
      (implicit spark: SparkSession): DataFrame =
    Similarity.rankTopK(
      scoreProbed(lists(index), index, queries, lit(nprobe), qidCol, vecCol),
      k)

  /** Per-query candidate scores over `listsDf` at probe depth `npCol`
    * (an int column evaluated against the QUERY row — a literal for the
    * uniform-depth [[topK]], the per-query widened depth for
    * [[topKFiltered]]). IVF-PQ scores ADC over stored codes; raw IVF
    * scores exact cosine. */
  private def scoreProbed(listsDf: DataFrame, index: Index,
      queries: DataFrame, npCol: Column, qidCol: String,
      vecCol: String): DataFrame = {
    val probes = explode(topCentroids(col(vecCol), index.coarse.lit, npCol))
      .as("list_id")
    index.pq match {
      case Some(m) =>
        val q = queries.select(col(qidCol).as("query_id"),
          Pq.luts(col(vecCol), m).as("luts"), probes)
        listsDf.join(q, "list_id")
          .select(col("query_id"), col("id"),
            Pq.adc(col("codes"), col("luts")).as("dist"))
      case None =>
        val q = queries.select(col(qidCol).as("query_id"),
          col(vecCol).as("qvec"), probes)
        listsDf.join(q, "list_id")
          .select(col("query_id"), col("id"),
            cosineSim(col("vector"), col("qvec")).as("score"))
    }
  }

  /** FILTERED top-k per query: the FAISS-IDSelector / Milvus
    * filtered-search contract — return the k nearest index entries that
    * SATISFY an attribute predicate, not the survivors of a fixed-size
    * unfiltered shortlist (post-filtering silently under-delivers k as
    * the filter gets selective: a 1%-selectivity predicate leaves
    * ~k/100 of a fixed shortlist). The index must have been built with
    * the predicate's columns in `attrCols`, so the predicate lands IN
    * the list-probe parquet scan (PushedFilters on the lists read —
    * plan-pinned) rather than as a join against a side table.
    *
    * Probe-depth discipline: each query's depth is the EXACT MINIMAL
    * one — the smallest d such that its d nearest lists hold ≥ k
    * eligible candidates (or nLists when no depth suffices; then the
    * result is EXACT over the eligible set, fewer than k rows only when
    * fewer eligible items exist), floored at `nprobe0` (the caller's
    * quality knob, FAISS-nprobe style) — [[Ivf.probeDepth]], the rule
    * the ad-hoc [[Ivf.topKFiltered]] shares. Computed in ONE logical plan,
    * nothing collected: the filtered lists aggregate to per-list
    * eligible COUNTS (row-level predicate ⇒ list-level counts are all
    * the widening needs — candidates ARE the eligible rows of probed
    * lists), each query explodes its full centroid ranking once
    * (nLists tiny ints), a running sum over that ranking finds the
    * minimal depth, and the final pass scores each query at its own
    * depth via a per-row probe count. Replaces the round-13-verdict
    * doubling loop — log2(nLists) count-join rounds with a driver
    * collect each — measured 2× a full-depth pass at the 1000× set
    * (SURVEY §6.14); the counting side is now one partial-agg
    * scan.
    *
    * Approximation contract (same as [[topK]]): with k eligible
    * candidates in reach at depth d < nLists, closer eligible items may
    * exist in unprobed lists — recall, not membership, is what depth
    * buys. Exactness at full depth is what the x97 oracle face pins.
    *
    * @param queries unique `qidCol` per row (per-query depth is keyed
    *   on it) */
  def topKFiltered(index: Index, queries: DataFrame, predicate: Column,
      k: Int, nprobe0: Int = 4, qidCol: String = "query_id",
      vecCol: String = "embedding")
      (implicit spark: SparkSession): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe0 >= 1, s"nprobe0 must be >= 1, got $nprobe0")
    val fl = lists(index).filter(predicate)
    val qs = queries.select(col(qidCol).as("query_id"), col(s"`$vecCol`"))
    val depth = Ivf.probeDepth(fl, qs, col(s"`$vecCol`"), index.coarse, k,
      nprobe0)
    val qWithNp = qs.join(broadcast(depth), Seq("query_id"))
    Similarity.rankTopK(
      scoreProbed(fl, index, qWithNp, col("__np"), "query_id", vecCol), k)
  }

  /** ADC-shortlist + exact-re-rank search over a persisted IVF-PQ index —
    * the production refine pattern ([[Pq.refineTopK]]'s shape applied to
    * the index): the index supplies an ADC shortlist from its stored
    * CODES alone (partition-pruned probe of nprobe lists), then only the
    * shortlist ids fetch their raw vectors from `vectors` — the caller's
    * primary store (the source table the corpus and every folded batch
    * came from; the index itself never stores floats) — for exact
    * squared-L2 re-ranking. At 100 TB the exact math touches
    * shortlist/|corpus| of the raw floats; the re-rank is [[Pq.refine]],
    * the step [[Pq.refineTopK]] uses, so index and ad-hoc refined paths
    * agree. Closes
    * the raw-ADC quality gap (measured on the sf0.01 corpus, AnnIndexSpec:
    * recall@10 0.31 raw ADC → 0.73 refined at shortlist 100, nprobe 8/16;
    * unprobed lists bound what refine can recover — raise nprobe, not
    * shortlist, when recall stalls). */
  def topKRefined(index: Index, queries: DataFrame, vectors: DataFrame,
      k: Int, shortlist: Int = 100, nprobe: Int = 4,
      qidCol: String = "query_id", idCol: String = "vec_id",
      vecCol: String = "embedding")(implicit spark: SparkSession): DataFrame = {
    require(index.pq.nonEmpty, "topKRefined refines ADC ranks — IVF-PQ only")
    require(shortlist >= k, s"shortlist $shortlist < k=$k")
    Pq.refine(topK(index, queries, k = shortlist, nprobe, qidCol, vecCol),
      vectors, queries, k, idCol, qidCol, vecCol, "topKRefined")
  }

  /** FILTERED + REFINED search — the production IVF-PQ query path with
    * an attribute predicate: [[topKFiltered]] supplies an ADC shortlist
    * of ELIGIBLE candidates (predicate pushed into the list-probe scan,
    * probe depth widened until the shortlist is full), then only the
    * shortlist ids fetch raw vectors from the caller's primary store for
    * exact squared-L2 re-ranking ([[topKRefined]]'s contract — LEFT join
    * + in-plan raise_error guard on a stale/partial store, identical
    * rank/tie rules). Because the shortlist is filtered BEFORE the k cut,
    * a selective predicate cannot starve the result the way post-filter
    * refine does; because widening targets `shortlist` (not k), refine
    * has eligible headroom to fix ADC rank inversions. */
  def topKRefinedFiltered(index: Index, queries: DataFrame,
      vectors: DataFrame, predicate: Column, k: Int, shortlist: Int = 100,
      nprobe0: Int = 4, qidCol: String = "query_id",
      idCol: String = "vec_id", vecCol: String = "embedding")
      (implicit spark: SparkSession): DataFrame = {
    require(index.pq.nonEmpty,
      "topKRefinedFiltered refines ADC ranks — IVF-PQ only")
    require(shortlist >= k, s"shortlist $shortlist < k=$k")
    Pq.refine(topKFiltered(index, queries, predicate, k = shortlist,
        nprobe0, qidCol, vecCol),
      vectors, queries, k, idCol, qidCol, vecCol, "topKRefinedFiltered")
  }

  /** List-file compaction — X86 for the index. Every [[fold]] writes its
    * own `(batch_id, list_id)` parquet subtree, so a fold-heavy index
    * accumulates one small file per list PER MICRO-BATCH; after
    * thousands of batches every [[topK]] probe opens thousands of tiny
    * files (the r15 verdict's #1 engine-native gap). Compaction rewrites
    * history into ONE `batch_id = -1` subtree per list (merged with the
    * create-time corpus batch, whose id is −1 already) inside a fresh
    * revision, and publishes it with the same CAS the other publishes
    * use — readers pinned to the old revision stay consistent, nothing
    * is deleted (run [[vacuumRevisions]] once old readers drain).
    *
    * REPLAY SAFETY: the NEWEST stream batch keeps its own `batch_id`
    * subtree, copied verbatim. foreachBatch is at-least-once, and the
    * one batch a restarted stream may replay is the last one — its
    * re-fold deletes and rewrites that subtree idempotently. Compacting
    * it into −1 instead would turn that replay into silent duplication.
    * Earlier batches are durable in the sink's commit log and never
    * replay (the [[graft.streaming.StreamingAnnIndex]] contract).
    *
    * Concurrency: folds running DURING compact write to the old
    * revision and are lost at the swap — compaction is a maintenance
    * window (stop the stream), same as retraining. The CAS still
    * guards against a concurrent create/compact racing the pointer.
    *
    * @return the new Index and (filesBefore, filesAfter); require()-
    *   gated to never publish MORE files than it found. */
  def compact(dir: String)(implicit spark: SparkSession): (Index, (Long, Long)) = {
    val cur = open(dir)
    // models + attrs travel bit-identically (the ModelStore contract)
    publish(dir, cur.coarse, cur.pq, cur.attrCols) { idx =>
      // partition-column inference reads small batch_id values back as
      // INT — normalize to the long the fold wrote
      val rows = lists(cur).withColumn("batch_id", col("batch_id").cast("long"))
      // newest STREAM batch (ids >= 0) stays replayable under its own id
      val keepId = graft.streaming.BatchStore.ids(spark, cur.listsDir, "batch_id")
        .filter(_ >= 0).maxOption
      val compacted = keepId match {
        case Some(b) => rows.withColumn("batch_id",
          when(col("batch_id") === b, col("batch_id")).otherwise(lit(-1L)))
        case None => rows.withColumn("batch_id", lit(-1L))
      }
      // one writer task per list -> one file per (batch_id, list_id) leaf
      compacted.repartition(col("list_id"))
        .write.mode("append").partitionBy("batch_id", "list_id")
        .parquet(idx.listsDir)
      val (before, _) = graft.sources.Compact.dirStats(spark, cur.listsDir)
      val (after, _) = graft.sources.Compact.dirStats(spark, idx.listsDir)
      require(after <= before,
        s"compact: produced MORE files ($after) than it found ($before) — " +
          "refusing to publish (index already compact?)")
      (before, after)
    }
  }

  /** Retrain-and-swap for a drifted index — what [[retrainGate]] points
    * at: fresh models trained on `corpus` (the caller's primary vector
    * store, or a sample of it), the whole corpus re-encoded under them,
    * published atomically through the revision CAS. Readers holding the
    * old Index finish their queries on the old revision; the next
    * [[open]] (e.g. the streaming fold's per-batch open) sees the new
    * models. The previous revision's attribute manifest carries over so
    * filtered search keeps working across the swap. */
  def retrainAndSwap(corpus: DataFrame, dir: String, k: Int, iters: Int = 3,
      pqSubspaces: Option[(Int, Int)] = None, seed: Long = 42,
      idCol: String = "vec_id", vecCol: String = "embedding")
      (implicit spark: SparkSession): Index = {
    val prev = open(dir)
    create(corpus, dir, k, iters, pqSubspaces, seed, idCol, vecCol,
      prev.attrCols)
  }

  /** Delete every `rev=` subtree but the head's, uncommitted ones too.
    * Run only while no publish is in flight and after readers of old
    * revisions have drained — an Index pins its revision's files. */
  def vacuumRevisions(dir: String)(implicit spark: SparkSession): Unit = {
    graft.streaming.CommitLog.current(spark, dir).foreach { c =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith("rev=") && n != c.version) fs.delete(s.getPath, true)
      }
    }
  }

  /** X93 drift gate for the frozen models: standardized mean difference
    * per dimension between `ref` (what the models represent — e.g. the
    * training sample) and the incoming batch. Returns (drift report,
    * retrain recommended). Fold correctness never depends on this —
    * assignment QUALITY does, which is exactly what a silent drift
    * degrades. */
  def retrainGate(ref: DataFrame, batch: DataFrame, maxSmd: Double = 0.5,
      vecCol: String = "embedding"): (DataFrame, Boolean) = {
    val report = Drift.embeddingDrift(ref, batch, vecCol)
    val worst = report.agg(max(col("smd"))).collect().head
    (report, !worst.isNullAt(0) && worst.getDouble(0) > maxSmd)
  }
}
