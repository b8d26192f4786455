package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** The determinism sort without the sampling recompute (round 10).
  *
  * Every declared query ends with a global orderBy so the driver's
  * hash-compare sees one canonical row order. A global sort plans as a
  * range-partitioning exchange whose partitioner is built by a SEPARATE
  * sampling job over the child RDD, and lineage is only reused back to
  * the nearest shuffle boundary (map-output files), cache block, or
  * checkpoint RDD — so a sort placed directly above per-row compute
  * RE-RUNS that compute: once for the sample, once for the shuffle.
  * Measured: q193's Bloom probe twice (two ~410 s-CPU stages at 100×),
  * q93's 3-gram scoring twice (31 of 88 CPU-s was the re-run). The
  * round-10 audit of every declared sort's recomputed chain is in
  * BASELINE_ARCHIVE.md ("Sort-sampling double-compute").
  *
  * `cachedOrderBy` caches the pre-sort rows — the query's OUTPUT, the
  * smallest relation in the plan — so the sampling pass reads the cache
  * and the per-row work runs once. Applied to compute-heavy tails whose
  * output is NUMERIC-COMPACT (ids + counts/scores: q93 halved its CPU,
  * q114 10×). NOT applied where (a) the recomputed chain is a bare
  * scan+project (cache ≈ rescan), (b) the output EXPANDS rows (q03's
  * posexplode), or (c) the output carries long or high-entropy STRINGS
  * — building the columnar cache (string copy + compression of
  * incompressible hex/redacted text) costs more than recomputing the
  * tail: measured at 1000×, q37's sha2 fingerprints were 3× FASTER
  * uncached (30.5 vs 95.5 s), q62's redacted corpus 1.4× (43.9 vs
  * 62.9 s), q88's chunk text neutral (kept uncached — no win justifies
  * holding a corpus-sized cache). The decision criterion, settled by
  * per-query 1000× A/B runs: cache when tail COMPUTE per row dwarfs
  * output BYTES per row (q02's json parse: cache 1.9× better; q114's
  * quantize), go plain when the tail is cheap next to the output
  * volume (q23's map build: plain 1.65× better) — when in doubt,
  * measure both at the tier. At deployment scale the determinism
  * sort is dropped entirely — it exists for the verification contract,
  * not the pipeline — so this is bench/test hygiene, not the 100 TB
  * story; the cache is released by the per-query clearCache both
  * Bench and Verify run between queries.
  */
object Out {
  implicit class SortOps(private val df: DataFrame) extends AnyVal {
    def cachedOrderBy(cols: Column*): DataFrame =
      df.cache().orderBy(cols: _*)
    def cachedOrderBy(col1: String, rest: String*): DataFrame =
      df.cache().orderBy(col1, rest: _*)
  }
}
