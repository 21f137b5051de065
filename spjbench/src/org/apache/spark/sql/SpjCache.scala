package org.apache.spark.sql

import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** Caches present when a snapshot was taken: Dataset cache entries (by
  * identity) and persistent RDD ids. */
final case class Owned(entries: Seq[AnyRef], rdds: Set[Int]) {
  def owns(e: CachedData): Boolean = entries.exists(_ eq e.cachedRepresentation)
}

/** Leak probe for the benchmark: what Spark storage an op left behind,
  * and its release, so the next op starts clean. The CacheManager has no
  * public listing of its entries, so it is read reflectively. */
object SpjCache {

  private def manager(spark: SparkSession): CacheManager =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  private def entries(spark: SparkSession): Seq[CachedData] = {
    val m = classOf[CacheManager].getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(manager(spark)).asInstanceOf[IndexedSeq[CachedData]]
  }

  def snapshot(spark: SparkSession): Owned = Owned(
    entries(spark).map(_.cachedRepresentation),
    spark.sparkContext.getPersistentRDDs.keySet.toSet)

  private def entryRdd(e: CachedData): Option[Int] = {
    val b = e.cachedRepresentation.cacheBuilder
    if (b.isCachedColumnBuffersLoaded) Some(b.cachedColumnBuffers.id) else None
  }

  /** (MB of storage held, caches held) beyond `owned`. */
  def leaked(spark: SparkSession, owned: Owned): (Double, Int) = {
    val sc = spark.sparkContext
    val es = entries(spark).filterNot(owned.owns)
    val esRdds = es.flatMap(entryRdd).toSet
    val rdds = sc.getPersistentRDDs.keySet.toSet -- owned.rdds
    val bytes = sc.getRDDStorageInfo.filter(i => rdds(i.id))
      .map(i => i.memSize + i.diskSize).sum
    (bytes / 1048576.0, es.size + (rdds -- esRdds).size)
  }

  /** Uncache every Dataset entry and unpersist every RDD not in `owned`. */
  def release(spark: SparkSession, owned: Owned): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    entries(spark).filterNot(owned.owns).foreach { e =>
      manager(spark).uncacheQuery(cs, e.plan, false, true)
    }
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!owned.rdds(id)) rdd.unpersist(blocking = true)
    }
  }
}
