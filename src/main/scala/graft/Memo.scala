package graft

import org.apache.spark.sql.SparkSession

/** Session memoization with STALENESS-PROOF keys.
  *
  * The per-(session, dir) memo family (labels/pairs/fit/grams/rank/
  * merges/kmeans/rfm caches — SURVEY's session-memoization policy)
  * had one documented footgun: regenerating a corpus UNDER THE SAME
  * PATH within a session left every cache silently stale. The fix is
  * to key on the corpus SNAPSHOT, not the path string: a fingerprint
  * of the directory's file inventory (path, length, mtime of every
  * data file, combined order-independently). Regenerating the corpus
  * rewrites its parquet files, the fingerprint changes, and the next
  * cache access is a MISS that recomputes from the new data — the
  * old entry is left behind (bounded: one per corpus snapshot
  * actually queried, and these frames are dimension/near-dup-sized
  * by the cache-admission policy).
  *
  * Fingerprint cost is one recursive listing of the corpus dir
  * (tens of files locally; a bounded namenode listing on a remote
  * FS) per cache ACCESS — noise next to the frames these caches
  * guard (shingle self-joins, label-propagation loops, Lloyd fits).
  */
object Memo {

  /** Snapshot fingerprint of a data directory: FNV-1a over each
    * file's (path, length, mtime), summed across files so listing
    * order cannot perturb it. Missing dir fingerprints as "absent"
    * (a later write then changes the key).
    *
    * Local (no-scheme / file:) dirs walk java.nio directly — the
    * Hadoop LocalFileSystem's recursive listing measures ~45 ms per
    * call against nio's ~0.3 ms, and this runs on EVERY cache
    * access. Any other scheme resolves through Hadoop's FileSystem
    * (the AnnIndex remote-FS rule); the two spellings of the same
    * dir never mix because the key includes the dir string itself. */
  def fingerprint(s: SparkSession, dir: String): String = {
    // URI.create throws on paths holding other URI-illegal chars ('%',
    // '[', …) — those are legal LOCAL paths the old string keys served
    // fine, so a failed parse falls back to local, never to a crash
    val u = try java.net.URI.create(dir.replace(" ", "%20"))
      catch { case _: IllegalArgumentException => null }
    if (u == null || u.getScheme == null) localFp(dir)
    else if (u.getScheme == "file") localFp(java.nio.file.Paths.get(u).toString)
    else hadoopFp(s, dir)
  }

  private def localFp(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return "absent"
    // this runs on every memo access, possibly while another job is
    // rewriting the dir (Spark Overwrite's delete-then-write,
    // _temporary commits): a file listed by walk() may be gone by the
    // stat — skip it (the in-flight write changes the fingerprint
    // anyway, so the access just resolves to a different snapshot
    // key) rather than throwing out of an innocent cached-query call
    try {
      var acc = 0L
      val st = java.nio.file.Files.walk(root)
      try st.forEach { p =>
        try {
          val a = java.nio.file.Files.readAttributes(
            p, classOf[java.nio.file.attribute.BasicFileAttributes])
          if (a.isRegularFile)
            acc += fileHash(p.toString, a.size(), a.lastModifiedTime().toMillis)
        } catch { case _: java.io.IOException => /* vanished mid-walk */ }
      } finally st.close()
      java.lang.Long.toHexString(acc)
    } catch {
      // the walk itself can die on a dir deleted mid-iteration; a
      // unique miss key is always SAFE (worst case: recompute)
      case _: java.io.IOException | _: java.io.UncheckedIOException =>
        s"unstable:${System.nanoTime()}"
    }
  }

  private def hadoopFp(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "absent"
    var acc = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      acc += fileHash(st.getPath.toString, st.getLen, st.getModificationTime)
    }
    java.lang.Long.toHexString(acc)
  }

  /** One file's FNV-1a over (path hash, length, mtime); the
    * fingerprints sum these across files. */
  private def fileHash(path: String, len: Long, mtime: Long): Long = {
    def mix(h: Long, x: Long): Long = (h ^ x) * 0x100000001b3L
    mix(mix(mix(0xcbf29ce484222325L, path.hashCode.toLong), len), mtime)
  }

  /** A memo keyed by (session, dir, sub-key, dir fingerprint) — the
    * one cache shape every per-corpus memo in the repo uses. `sub`
    * distinguishes variants over the same corpus (rankCache's
    * "lex"/"vec", fitCache's cell-size mode). */
  final class DirMemo[V] {
    private val m = scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String, String, String), V]

    /** Live entry count — MemoSpec's eviction probe. */
    private[graft] def entries: Int = m.size

    def getOrElseUpdate(s: SparkSession, dir: String, sub: String = "")(v: => V): V = {
      val fp = fingerprint(s, dir)
      // a dir mid-rewrite fingerprints as a unique "unstable:" key —
      // caching under it would insert an entry NOTHING can ever hit
      // again (pure leak); compute and return without inserting
      if (fp.startsWith("unstable:")) return v
      m.get((s, dir, sub, fp)) match {
        case Some(x) => x
        case None =>
          val x = v
          // evict SUPERSEDED snapshots of this (session, dir, sub):
          // their fingerprint can never be observed again (an in-place
          // regeneration bumped mtimes), so holding them pins their
          // localCheckpoint blocks for the session. Dropping the map
          // reference is the whole fix — NO eager unpersist: a sibling
          // cache may hold a frame DERIVED from the old entry's
          // checkpoint (local checkpoints are unrecomputable; yanking
          // blocks under a still-referenced child throws), so blocks
          // are reclaimed by ContextCleaner once every reference is
          // gone, exactly when that is safe.
          m.keySet.filter(k => k._1 == s && k._2 == dir && k._3 == sub && k._4 != fp)
            .foreach(m.remove)
          m.putIfAbsent((s, dir, sub, fp), x).getOrElse(x)
      }
    }
  }
}
