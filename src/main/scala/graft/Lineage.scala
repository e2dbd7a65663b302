package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for DATA-PROPORTIONAL intermediates.
  *
  * `df.localCheckpoint()` stores the materialized rows at
  * MEMORY_AND_DISK **deserialized**: every UnsafeRow becomes a heap
  * object (~40 B of header/backing-array overhead on a 16-byte edge
  * row), and the storage pool pins up to `spark.memory.storageFraction`
  * of the unified region against eviction. On the r9 100× soak that
  * put the pagerank edge list's ~4× blow-up in heap UNDER 32 concurrent
  * shuffle-write tasks and OOM'd the JVM (the 50× replica fit).
  *
  * `cut` keeps the lineage-truncation semantics but sizes the storage
  * level to the DATASET, keyed off the same probe that sizes shuffle
  * width (`graft.dataFactor`, published by GraftSession): at the
  * committed bench convention (factor 1) it is plain
  * `localCheckpoint()` — bit-identical plans and timings, because
  * DISK_ONLY unconditionally cost +26–31 % on the 4-core graph-family
  * bench (serialize + write + read per iteration vs in-heap row
  * reuse, A/B'd) — and past the 512 MB input point (factor > 1) it
  * stores DISK_ONLY, so corpus-sized intermediates stream from local
  * disk and heap stays free for the operators actually running.
  * Iteration reads at soak scale pay a deserialize pass per round;
  * that is the price of being un-OOM-able at ANY corpus size, the
  * same call most of these sites document as "the production
  * deployment would checkpoint".
  *
  * Use plain `localCheckpoint()` directly only for BOUNDED
  * intermediates (vocab-sized BPE tables, partition-count-sized
  * skyline prefixes, df-capped key lists) where heap residency is
  * O(1) in the corpus.
  *
  * MEMORY_AND_DISK_SER for the factor-1 regime was A/B'd and REJECTED
  * (r14, dev/expr_cutlevel_r19.txt, interleaved 10×/32-core, identity
  * asserted): it halves the GC ratio where elevated (pagerank 8.0 →
  * 3.6% of CPU) but the per-iteration serialize/deserialize costs
  * +25–54% task CPU and +14–27% wall on the graph family — GC on the
  * default is already ≤5% of steady task time at 100× (r13 gc lens),
  * so the deserialized rows stay. */
object Lineage {
  def cut(df: DataFrame): DataFrame = {
    val factor = df.sparkSession.conf.getOption("graft.dataFactor")
      .flatMap(_.toIntOption).getOrElse(1)
    if (factor > 1)
      df.localCheckpoint(eager = true, storageLevel = StorageLevel.DISK_ONLY)
    else df.localCheckpoint()
  }

  /** Materialize-once for a subtree consumed by SEVERAL branches of ONE
    * returned (lazy) query — bm25's base projection, lm_score's occ
    * aggregate. `persist()` would pin a CacheManager entry (plan +
    * blocks) until an explicit `unpersist` that a lazily-returned
    * DataFrame has no place to issue — the r9-advisory session-lifetime
    * accretion under Verify/repeated programmatic use. A LAZY
    * localCheckpoint gives the same single materialization on first
    * action, but the blocks belong to the checkpointed RDD alone: when
    * the caller drops the DataFrame the ContextCleaner reclaims them —
    * no registry, no sweep. Storage level follows `cut`'s data-sizing:
    * spillable in-heap rows at the bench convention, DISK_ONLY past the
    * 512 MB probe point so corpus-proportional intermediates can never
    * pin heap. */
  def share(df: DataFrame): DataFrame = {
    val factor = df.sparkSession.conf.getOption("graft.dataFactor")
      .flatMap(_.toIntOption).getOrElse(1)
    df.localCheckpoint(eager = false, storageLevel =
      if (factor > 1) StorageLevel.DISK_ONLY else StorageLevel.MEMORY_AND_DISK)
  }
}
