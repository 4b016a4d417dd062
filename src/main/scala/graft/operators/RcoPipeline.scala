package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

import graft.model.Rco
import graft.pipeline.RcoEtl.{SiteParams, Spine}
import graft.sources.Tables

/** The gate's RCO spines: one [[Spine]] per (session, sf-dir, site),
  * each over that dir's canonical log — the frames [[RcoQueries]]' `rco_*`
  * entries read, built exactly as `RcoEtl.runReleasable` builds a site's.
  * A spine forces only the frames its entries read. */
object RcoPipeline {

  private val spines =
    new ConcurrentHashMap[(SparkSession, String, SiteParams), Spine]()

  def spine(s: SparkSession, dir: String, site: SiteParams): Spine =
    spines.computeIfAbsent((s, dir, site),
      _ => new Spine(Rco.downtimeLogDeduped(Tables.events(s, dir)), site))

  /** Release every spine this session built. Long-lived sessions that
    * run many sf-dirs or parameter sets should call this between
    * batches; the bench calls it before every rep. */
  def clear(s: SparkSession): Unit =
    spines.forEach { (k, v) =>
      if (k._1 eq s) { v.release(); spines.remove(k) }
    }
}
