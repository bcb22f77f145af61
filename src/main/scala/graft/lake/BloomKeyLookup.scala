package graft.lake

import org.apache.spark.unsafe.types.UTF8String

/** Key-might-exist test against a table version's bucket layout + bloom
  * sidecars: a key whose bucket holds no data at all is definitely absent;
  * a key whose bucket's sidecars all say absent is absent; a data-bearing
  * layer without a sidecar conservatively answers true.
  *
  * A bucket's filter is LAYERED (docs/MOR_DESIGN.md): one sidecar per data
  * file of the base file group and of each stacked delta dir, and
  * might-contain composes under OR — the key might exist iff SOME layer
  * might contain it. A layer whose sidecar is missing (bloomOnWrite was
  * off for that commit, or the file vanished) makes the whole bucket
  * unprunable: its keys are unknown. Note a tombstoned (deleted) key stays
  * "might exist" — blooms only ever prove absence, so delta sidecars built
  * over delete rows are conservative, never wrong.
  *
  * Ships to executors serialized inside [[graft.functions.BloomMightContainExpr]]
  * carrying only the sidecars' PATHS — never the filter bytes. At
  * production bucket counts (thousands of buckets x ~MB filters) an
  * eagerly-decoded byte map would serialize GBs into every delete plan;
  * instead each task lazily loads just the blooms of the buckets its rows
  * actually hash to (once per task per sidecar, cached in a concurrent
  * map). `LakeTable.bloomPrune` bucket-aligns the key set first when the
  * table is wide, so a task touches O(buckets/tasks) sidecars, not all of
  * them.
  *
  * Hashing works on the raw UTF-8 bytes: Spark's `BloomFilter.putString`
  * hashes the UTF-8 encoding, and the bucket function
  * ([[LakeTable.bucketOfKeyBytes]] — the same implementation behind the
  * write path's `bucketOf`) xxhash64's the same bytes — no String
  * materialization per key.
  *
  * `layers`: bucket -> one entry per data file; `None` = a layer with
  * no sidecar (cannot prune the bucket). Buckets absent from the map hold
  * no data at all.
  */
final class BloomKeyLookup(
    layers: Map[Int, Seq[Option[String]]],
    basePath: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    numBuckets: Int)
    extends Serializable {

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private val Missing = "missing" // sentinel: sidecar not loadable

  private def bloomFor(rel: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    cache.computeIfAbsent(rel, _ => {
      val p = new org.apache.hadoop.fs.Path(basePath, rel)
      // A sidecar can disappear mid-job (concurrent commit + vacuum
      // reclaiming the version dir the plan captured): degrade to "no
      // sidecar" — conservative true, the prune just prunes less. The
      // eager-bytes design had a microsecond version of this window;
      // lazy loading stretches it to job lifetime, so it must be
      // handled, not assumed away.
      try {
        val in = p.getFileSystem(conf.value).open(p)
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => Missing }
    }) match {
      case bf: org.apache.spark.util.sketch.BloomFilter => Some(bf)
      case _ => None
    }

  /** Called from generated code (one static-shaped call per row). */
  def contains(key: UTF8String): Boolean =
    key != null && {
      val bytes = key.getBytes
      val b = LakeTable.bucketOfKeyBytes(bytes, numBuckets)
      layers.get(b) match {
        case None => false // bucket holds no data: definitely absent
        case Some(ls) =>
          // OR over layers; any sidecar-less layer => cannot prune.
          var i = 0
          var might = false
          while (!might && i < ls.length) {
            might = ls(i) match {
              case Some(rel) => bloomFor(rel) match {
                case Some(bf) => bf.mightContainBinary(bytes)
                case None => true // sidecar vanished
              }
              case None => true // layer written without a sidecar
            }
            i += 1
          }
          might
      }
    }
}
