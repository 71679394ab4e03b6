package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Graft

/** Materialized-view lifecycle — CREATE / read-with-staleness /
  * REFRESH (reference grammar `SqlBase.g4:92-98`
  * createMaterializedView / refreshMaterializedView /
  * dropMaterializedView; SPI `core/trino-spi/.../connector/
  * ConnectorMetadata.java` getMaterializedView /
  * getMaterializedViewFreshness, whose freshness result drives whether
  * the engine reads the storage table or falls back to the defining
  * query, modulated by the view's GRACE PERIOD).
  *
  * The analogue here: the MV materializes its defining query to a
  * parquet storage table plus a sidecar metadata file recording a
  * fingerprint of every SOURCE table at materialization time (mtime ×
  * length over the source files — `Graft.srcTag`'s scheme) and the
  * materialization wall-clock. A read recomputes the source
  * fingerprints:
  *  - unchanged → FRESH, serve the storage table (a plain parquet
  *    scan: pruning/pushdown apply, zero recompute);
  *  - changed but within `gracePeriodMs` of materialization → STALE
  *    but served (Trino's grace-period contract: bounded staleness
  *    beats recompute);
  *  - changed and out of grace → the read recomputes from the
  *    DEFINING QUERY (Trino's fallback for a stale MV), leaving the
  *    storage table for the next explicit refresh.
  *
  * 100 TB notes: the storage table is ordinary parquet — partition it
  * like any table; freshness checking reads file METADATA only (no
  * data I/O); refresh is the defining query + an atomic staged-swap
  * publish (same commit protocol as [[Mutations.overwriteInPlace]]).
  */
object MaterializedView {

  final case class Freshness(fresh: Boolean, withinGrace: Boolean)

  private def metaPath(storage: String) = Paths.get(storage + ".mvmeta")

  private def fingerprint(sources: Seq[(String, String)]): String =
    sources.map { case (dir, tbl) => s"$tbl=${graft.engine.Graft.srcTag(dir, tbl)}" }
      .mkString(",")

  /** Materialize (or re-materialize) the MV: run `defining`, publish
    * to `storage` via staged swap, record source fingerprints. */
  def refresh(s: SparkSession, storage: String,
      defining: () => DataFrame, sources: Seq[(String, String)]): DataFrame = {
    // fingerprint BEFORE running the query: if a source changes during
    // materialization the MV is recorded as already-stale (conservative)
    val tag = fingerprint(sources)
    val out = Mutations.overwriteInPlace(s, defining(), storage)
    val meta = s"$tag\n${System.currentTimeMillis()}\n"
    val tmp = Paths.get(storage + ".mvmeta.tmp")
    Files.write(tmp, meta.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, metaPath(storage), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    out
  }

  /** Create iff absent (CREATE MATERIALIZED VIEW IF NOT EXISTS). */
  def createIfAbsent(s: SparkSession, storage: String,
      defining: () => DataFrame, sources: Seq[(String, String)]): Unit =
    if (!Files.exists(metaPath(storage)))
      refresh(s, storage, defining, sources)

  /** Metadata-only freshness check (file stats, no data I/O). */
  def freshness(storage: String, sources: Seq[(String, String)],
      gracePeriodMs: Long): Freshness = {
    val lines = Files.readAllLines(metaPath(storage))
    val fresh = lines.get(0) == fingerprint(sources)
    val age = System.currentTimeMillis() - lines.get(1).toLong
    Freshness(fresh, withinGrace = age <= gracePeriodMs)
  }

  /** Read through the MV under the freshness contract described above.
    * `gracePeriodMs = Long.MaxValue` reproduces Trino's DEFAULT GRACE
    * PERIOD (unbounded — always serve the storage table); `0` means
    * any staleness forces the defining query. */
  def read(s: SparkSession, storage: String,
      defining: () => DataFrame, sources: Seq[(String, String)],
      gracePeriodMs: Long = Long.MaxValue): DataFrame = {
    createIfAbsent(s, storage, defining, sources)
    val f = freshness(storage, sources, gracePeriodMs)
    if (f.fresh || f.withinGrace) Graft.readParquet(s, storage)
    else defining()
  }

  /** Read under a maintenance schedule: a stale-past-grace MV is
    * REFRESHED first (the explicit refresh a deployment's maintenance
    * job runs), then served from storage — so steady-state reads are
    * a plain parquet scan and recompute happens once per source
    * change, not once per read. `read` alone never mutates; this is
    * the REFRESH + read composition. */
  def readRefreshing(s: SparkSession, storage: String,
      defining: () => DataFrame, sources: Seq[(String, String)],
      gracePeriodMs: Long = Long.MaxValue): DataFrame = {
    createIfAbsent(s, storage, defining, sources)
    val f = freshness(storage, sources, gracePeriodMs)
    if (!f.fresh && !f.withinGrace)
      refresh(s, storage, defining, sources)
    Graft.readParquet(s, storage)
  }
}
