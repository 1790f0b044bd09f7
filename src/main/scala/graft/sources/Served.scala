package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The served-store lifecycle: one build-once protocol for every
  * persisted artifact a query probes (gram, band and bloom indexes,
  * IVF-PQ, the positional and fuzzy indexes, the BPE model, user stats).
  *
  * A store lives at `/tmp/graft_<family>/<key>` ([[key]]). [[store]]
  * serializes its callers per path, serves at once when the commit
  * [[Marker]] exists, and otherwise clears the path, runs the build and
  * writes the marker LAST. A build that dies part-way therefore leaves
  * no marker, and the next call rebuilds from an empty path instead of
  * serving a partial store.
  */
object Served {

  /** The lifecycle's commit marker. `_`-prefixed, so Spark's file
    * listing never reads it as data; named apart from the operator-owned
    * format markers (`Ann`'s `coarse/_SUCCESS`, `TextIndex`'s
    * `_GRAFT_DONE`) that the store's readers still parse. */
  val Marker = "_GRAFT_SERVED"

  /** (applicationId, md5 of the RAW corpus dir): concurrent applications
    * never share a store, and distinct corpora never collide — a
    * sanitizing replaceAll would map `/data/sf0.1` and `/data-sf0.1` to
    * one store. */
  def key(s: SparkSession, dir: String): String = {
    val dirKey = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_") + "/" + dirKey
  }

  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** The committed store of `family` for (application, `dir`), built
    * first by `build(path)` if uncommitted. The build may write the path
    * in several steps (build, then append); only the marker commits. */
  def store(s: SparkSession, dir: String, family: String)(build: String => Unit): String = {
    val path = s"/tmp/graft_$family/${key(s, dir)}"
    locks.computeIfAbsent(path, _ => new Object).synchronized {
      if (!Fs.exists(s"$path/$Marker")) {
        Fs.delete(path)
        build(path)
        Fs.writeString(s"$path/$Marker", "")
      }
    }
    path
  }

  /** [[store]] for a table bucketed on `keys` ([[Sinks.saveBucketed]]):
    * returns the table name, so probes read the index side
    * pre-partitioned through `s.table`. The data lives at the store
    * path, not in the warehouse, where it would outlive the in-memory
    * catalog entry and accumulate across runs. */
  def bucketedTable(s: SparkSession, dir: String, family: String, keys: Seq[String],
      buckets: Int)(index: => DataFrame): String = {
    val table = s"graft_${family}_${key(s, dir).replace('/', '_')}"
    store(s, dir, family)(path =>
      Sinks.saveBucketed(index, table, keys, buckets, path = Some(path)))
    table
  }
}
