package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** The one registry of session state: artifacts built once per
  * application and corpus snapshot, then shared by every query that reads
  * them — the dedup cluster index, the md5-shingle index, the curation
  * gate models and the curation recipe and increment states (the list,
  * by name, is [[SparkEntry.sessionArtifacts]]). Each is an index BUILD
  * over an immutable corpus, paid once when the snapshot is loaded and
  * amortized across its consumers, not per-query work.
  *
  * Mechanics, the same for every artifact ([[getOrBuild]]):
  *  - the key is (applicationId, key), and `key` starts with the
  *    artifact's name: a new SparkContext never reads another context's
  *    (dead) blocks, and two artifacts of one corpus never collide;
  *  - entries of stopped contexts are evicted on every call, so a JVM
  *    that cycles sessions does not pin dead object graphs;
  *  - the build runs without holding any map lock (it runs multi-minute
  *    Spark jobs; `computeIfAbsent` would stall every concurrent caller
  *    of the same bin), then `putIfAbsent`: a concurrent first call that
  *    loses the race closes its own release handle and returns the
  *    winner's value; a build that throws stores nothing;
  *  - in [[cold]] mode the memo is bypassed: every call builds, so a cold
  *    measurement pays the true per-query cost, and closes the previous
  *    cold build's release handle for the same key, so a multi-rep cold
  *    run holds at most one cold build's cached blocks per artifact.
  *
  * Executor-loss policy: warm artifacts are never released for the life
  * of the session. The curation recipe and increment pin their stage
  * frames as `localCheckpoint`s (lineage truncated to a block scan, which
  * keeps each warm rep's re-planned tree small), and the cluster index and
  * the curation fixpoints keep their final labels as `localCheckpoint`s
  * too. Those blocks live only on the executor that wrote them: in
  * cluster mode a lost executor loses them for good, and a query that
  * reads them fails; it does not recompute. Recovery is a new session,
  * which rebuilds every artifact. The md5-shingle index is a plain
  * persist and recomputes a lost block from lineage. In local mode the
  * driver is the only executor, so the case cannot arise.
  */
object SessionArtifacts {

  /** Cold-measurement toggle, and its only reader: `SPARK_GRAFT_COLD=1`
    * for the bench, or the `graft.cold=1` system property, which lets a
    * spec in a running JVM switch it (env cannot change after start). */
  def cold: Boolean =
    sys.props.get("graft.cold").orElse(sys.env.get("SPARK_GRAFT_COLD"))
      .contains("1")

  /** The release of an artifact that holds no cached blocks. */
  val nothingToRelease: AutoCloseable = () => ()

  private val memo =
    new ConcurrentHashMap[(String, String), (SparkSession, Any)]()
  private val lastCold =
    new ConcurrentHashMap[(String, String), (SparkSession, AutoCloseable)]()

  /** The session's artifact `key`, built by `build` on first use. `build`
    * receives the cold flag (an artifact may store itself differently
    * when cold) and returns the value with the handle that releases its
    * cached blocks, closed only for a race loser or a superseded cold
    * build. */
  def getOrBuild[T](spark: SparkSession, key: String)
      (build: Boolean => (T, AutoCloseable)): T = {
    memo.values.removeIf(_._1.sparkContext.isStopped)
    lastCold.values.removeIf(_._1.sparkContext.isStopped)
    val k = (spark.sparkContext.applicationId, key)
    if (cold) {
      val (value, release) = build(true)
      Option(lastCold.put(k, (spark, release))).foreach(_._2.close())
      value
    } else Option(memo.get(k)) match {
      case Some((_, value)) => value.asInstanceOf[T]
      case None =>
        val (value, release) = build(false)
        val prev = memo.putIfAbsent(k, (spark, value))
        if (prev == null) value
        else { release.close(); prev._2.asInstanceOf[T] }
    }
  }
}
