package graft.sinks

import org.apache.spark.sql.SparkSession

/** The `_applied/` epoch ledgers every exactly-once sink writes
  * ([[AggMaintain]], [[graft.streaming.StreamingScd2]],
  * [[graft.streaming.StreamingCdcApply]], [[graft.streaming
  * .StreamingCms]], [[graft.operators.ErIngest]]): the marker check
  * ([[applied]]), its write ([[markApplied]]) and their retention
  * ([[prune]]). One zero-byte marker per applied micro-batch means a
  * long-running stream leaves tens of thousands of files behind —
  * harmless to correctness, hostile to object-store LIST calls (the
  * marker probe each batch pays is a single `exists`, but ops tooling
  * and table copies walk the whole dir).
  *
  * Safety contract: a marker only matters while its batch can still
  * be REPLAYED. Structured Streaming replays at most the last
  * unfinalized epoch per query, and [[AggMaintain]]-style run ids are
  * never reused — so keeping the trailing `keep` markers per
  * namespace (the `<ns>_<epoch>` prefix before the final `_`) is
  * sound for any `keep >= 1`; the default is deliberately generous.
  * Markers whose name carries no numeric epoch suffix are never
  * deleted (unknown writers keep their history).
  */
object Ledger {

  private def ledgerDir(path: String) =
    new org.apache.hadoop.fs.Path(path, "_applied")

  private def marker(spark: SparkSession, path: String, id: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(ledgerDir(path), id)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** True when batch `id` has already been applied to the table at
    * `path` — its `_applied/<id>` marker exists. */
  def applied(spark: SparkSession, path: String, id: String): Boolean = {
    val (fs, p) = marker(spark, path, id)
    fs.exists(p)
  }

  /** Record batch `id` as applied to the table at `path`. Written LAST,
    * after every write of the batch has landed: a crash before it
    * replays the batch, which the idempotent sinks absorb. */
  def markApplied(spark: SparkSession, path: String, id: String): Unit = {
    val (fs, p) = marker(spark, path, id)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  /** Delete all but the newest `keep` markers per namespace under
    * `path/_applied`, then — when `keepNamespaces` is bounded — drop
    * every marker of all but the `keepNamespaces` namespaces whose
    * newest marker is most recent (by file modification time).
    *
    * The namespace sweep is what stops DEAD runs from accreting: an
    * uncheckpointed run salts a fresh `run<uuid>` namespace, so
    * per-namespace trimming alone still leaves up to `keep` markers
    * per crashed run forever. A namespace only loses markers to the
    * sweep once `keepNamespaces` newer runs have written after it —
    * any live run's namespace carries the newest markers of all and
    * always survives; size `keepNamespaces` above the number of
    * writers that can be live concurrently (the default is generous).
    * Returns the number of markers deleted. */
  def prune(spark: SparkSession, path: String, keep: Int = 100,
      keepNamespaces: Int = Int.MaxValue): Long = {
    require(keep >= 1, s"ledgerPrune: keep must be >= 1, got $keep")
    require(keepNamespaces >= 1,
      s"ledgerPrune: keepNamespaces must be >= 1, got $keepNamespaces")
    val dir = ledgerDir(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0L
    val markers = fs.listStatus(dir).filter(_.isFile)
    val parsed = markers.flatMap { st =>
      val name = st.getPath.getName
      val cut = name.lastIndexOf('_')
      if (cut <= 0) None
      else scala.util.Try(name.substring(cut + 1).toLong).toOption
        .map(epoch =>
          (name.substring(0, cut), epoch, name, st.getModificationTime))
    }
    var deleted = 0L
    def drop(name: String): Unit =
      if (fs.delete(new org.apache.hadoop.fs.Path(dir, name), false))
        deleted += 1L
    val byNs = parsed.groupBy(_._1)
    byNs.foreach { case (_, group) =>
      group.sortBy(-_._2).drop(keep).foreach(m => drop(m._3))
    }
    if (keepNamespaces < byNs.size) {
      val stale = byNs.toSeq
        .sortBy { case (ns, group) => (-group.map(_._4).max, ns) }
        .drop(keepNamespaces)
      stale.foreach { case (_, group) => group.foreach(m => drop(m._3)) }
    }
    deleted
  }
}
