package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STORE-LEVEL digest (round-17 verdict #4) — the one-call answer to
  * "is this replica / re-laid-out / restored store the same store?".
  * [[TableDigest]] proves two plain tables equal with one scan each;
  * this composes it over a store's full LOGICAL relation set — one
  * (relation, n_rows, xor_digest, sum_digest) row per relation plus a
  * `__store` rollup row via [[TableDigest.mergeDigests]] — so replica
  * audits, layout checks (plain vs bucketed), and restore validation
  * each cost one scan per relation, order-free and layout-free.
  *
  * The digests are over LOGICAL content, deliberately: a store's
  * identity is what its readers see, not how its bytes are arranged —
  * so a plain and a bucketed [[DedupState]] store of the same corpus
  * digest identically (the bucket column and file clustering are
  * layout), and a geo
  * store's `vectors`/`attrs` rows survive compaction bitwise while
  * `graph` honestly changes when delta graphs merge into the base
  * (HNSW insertion-order semantics — for MONOTONE ids compaction is
  * the from-scratch rebuild, so pre/post-compaction `graph` digests
  * agree exactly when the compaction≡rebuild theorem applies and the
  * store was already one base).
  *
  * Canonical column order is the SORTED column-name order on every
  * relation, so two stores reached through different code paths
  * canonicalize identically.
  */
object StoreDigest {

  private def relationDigest(df: DataFrame, name: String): DataFrame =
    TableDigest.digest(df, df.columns.sorted.map(col).toSeq)
      .withColumn("relation", lit(name))
      // an EMPTY relation (uncapped store's layout, attr-less epoch) is
      // a legal digest subject: bit_xor/sum aggregate to NULL over zero
      // rows, so pin them to the abelian identities — 0 is the identity
      // of both, so merges stay exact
      .select(col("relation"), col("n_rows"),
        coalesce(col("xor_digest"), lit(0L)).as("xor_digest"),
        coalesce(col("sum_digest"), lit(0L)).as("sum_digest"))

  private def withRollup(parts: Seq[DataFrame]): DataFrame = {
    val perRel = parts.reduce(_ unionByName _)
    perRel.unionByName(
      TableDigest.mergeDigests(
        parts.map(_.withColumn("relation", lit("__store"))),
        Seq("relation")))
  }

  /** Digest of a [[DedupState]] store: the four logical relations its
    * readers consume (posting, shingle_df, signatures, fingerprints —
    * each already generation-resolved, tombstone-masked, and
    * layout-free through [[DedupState.loadAt]]) plus the `__store`
    * rollup. Invariant across plain ≡ bucketed layouts by construction;
    * flips on any mutated, lost, or duplicated row.
    */
  def digestDedup(spark: SparkSession,
                  store: DedupState.Store): DataFrame =
    withRollup(Seq(
      relationDigest(store.posting, "posting"),
      relationDigest(store.shingleDf, "shingle_df"),
      relationDigest(store.signatures, "signatures"),
      relationDigest(store.fingerprints, "fingerprints")))

  /** Digest of a [[HnswGeoStore]] store:
    *
    *  - `vectors`: (vec_id, vec) of the live masked view — THE corpus
    *    identity; invariant across epochs, compaction, sub-shard
    *    layout, and attr updates;
    *  - `graph`: (cell, vec_id, level, nbrs) with the epoch stride
    *    normalized off the shard id — the served graph structure
    *    (changes when compaction merges deltas, equal across replicas
    *    and across addGeo ≡ buildGeo for monotone ids);
    *  - `attrs`: the RESOLVED payload relation (latest-wins, masked,
    *    shard dropped — cell striding is layout) when the store
    *    carries one;
    *  - `layout`: the frozen (cell, n_sub) rows of a capped store;
    *  - `index`: the frozen centroids, digested as (cell, dim, value)
    *    rows so one moved coordinate flips it;
    *
    * plus the `__store` rollup.
    */
  def digestGeo(spark: SparkSession,
                store: HnswGeoStore.Store): DataFrame = {
    import spark.implicits._
    val segs = store.segments
    val vectors = segs.select(col("vec_id"), col("vec"))
    val graph = segs.select(
      pmod(col("shard"), lit(HnswGeoStore.CellStride)).as("cell"),
      col("vec_id"), col("level"), col("nbrs"))
    val layoutDf = store.layout.toSeq.toDF("cell", "n_sub")
    val indexDf = store.index.centroids.zipWithIndex.flatMap {
      case (c, cid) => c.zipWithIndex.map { case (v, d) =>
        (cid, d, v) }
    }.toSeq.toDF("cell", "dim", "value")
    val parts = Seq(
      relationDigest(vectors, "vectors"),
      relationDigest(graph, "graph"),
      relationDigest(layoutDf, "layout"),
      relationDigest(indexDf, "index")) ++
      HnswGeoStore.attrsOf(spark, store).map(at =>
        relationDigest(at.drop("shard"), "attrs")).toSeq
    withRollup(parts)
  }
}
