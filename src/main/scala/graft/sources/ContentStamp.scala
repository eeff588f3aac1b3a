package graft.sources

import org.apache.spark.sql.SparkSession

/** Content stamp of an at-rest relation — the invalidation currency of
  * every corpus-derived driver memo (round 13, generalizing the
  * sharded-HNSW `ShardGraphCache` contract): the sorted
  * path:length:mtime[:etag] listing of a relation's visible files
  * changes exactly when the relation's bytes change. One listing round
  * per directory level to the relation's own filesystem per memoized
  * call — noise next to what these memos guard (k-means training,
  * union-find clustering, graph construction).
  *
  * THE MEMO CONTRACT ([[ContentStamp.Memo]]): every driver memo keys
  * an entry by what the caller derives it from (session, paths, dials)
  * and stores beside it the stamp of the relation it was built from. A
  * lookup under a different stamp recomputes and replaces the entry in
  * one atomic step, so a memo can never return a value derived from
  * rewritten data — staleness is a lookup miss, not a protocol the
  * caller must remember — and a key never holds more than one entry,
  * however many rewrites it sees. Every memo registers itself at
  * construction; [[ContentStamp.Memo.invalidateAll]] is the one
  * cold-state reset (timing harnesses), and correctness never depends
  * on anyone calling it.
  *
  * GRANULARITY — what the stamp can and cannot see. Each entry is
  * name:length:mtime, so an in-place rewrite that keeps the file NAME
  * and BYTE LENGTH and lands within the filesystem's mtime granularity
  * (same-millisecond overwrite on local/HDFS; whole seconds or coarser
  * on some object stores) produces an identical stamp and the memo
  * serves the pre-rewrite derivation. Spark's own committers never do
  * this (every job writes fresh part-UUID file names), so the window
  * only opens to out-of-band writers doing same-name same-length
  * overwrites. Where the filesystem exposes a content identifier on
  * its `FileStatus` (the Hadoop `EtagSource` contract — S3A/ABFS-style
  * stores), it is folded into the entry, closing the window on exactly
  * the stores whose coarse timestamps widen it; local file:// and HDFS
  * statuses carry no etag, so their entries keep the 3-field shape
  * (and their millisecond mtimes keep the window negligible). */
object ContentStamp {

  /** Hidden-file convention shared with Spark's listing: `_` metadata
    * and `.` working files are not relation content. */
  def isVisible(name: String): Boolean =
    !name.startsWith(".") && !name.startsWith("_")

  /** One visible file's stamp entry. `mtime` alone leaves the
    * same-name same-length same-mtime-window hole documented in the
    * class doc; the etag (when the store provides one) is the content
    * identifier that closes it. */
  private def entryOf(st: org.apache.hadoop.fs.FileStatus,
                      prefix: String): String = {
    val etag = st match {
      case e: org.apache.hadoop.fs.EtagSource
        if e.getEtag != null && e.getEtag.nonEmpty => s":${e.getEtag}"
      case _ => ""
    }
    s"$prefix${st.getPath.getName}:${st.getLen}:${st.getModificationTime}$etag"
  }

  /** Sorted relative-path:length:mtime[:etag] of `path`'s visible
    * files, RECURSING into visible subdirectories (a partitioned
    * relation's data lives under `key=value/` dirs — stamping only the
    * top level would freeze the stamp at "" and silently never re-key,
    * the exact failure this helper exists to prevent). A single-file
    * relation stamps as itself — listStatus on a file returns it.
    * Empty when absent, so the caller's own read produces its loud,
    * named refusal rather than this helper guessing. */
  def of(spark: SparkSession, path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return ""
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    walk(fs, root, "", out)
    out.sorted.mkString(";")
  }

  private def walk(fs: org.apache.hadoop.fs.FileSystem,
                   p: org.apache.hadoop.fs.Path, prefix: String,
                   out: scala.collection.mutable.ArrayBuffer[String]): Unit =
    fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (isVisible(name)) {
        if (st.isDirectory) walk(fs, st.getPath, s"$prefix$name/", out)
        else out += entryOf(st, prefix)
      }
    }

  /** Per-child-directory stamps of `path` from ONE recursive listing
    * (`FileSystem.listFiles(recursive = true)` — a single batched
    * deep-listing round on object stores, one streamed iterator on
    * HDFS): for each visible direct child directory with visible
    * files, the stamp [[of]] would produce for it (entries relative to
    * the child — byte-identical, so stamp-keyed memos see the same
    * keys either way), sorted by child name. The per-partition analog
    * of [[of]] for `key=value/` layouts: a serving tier that needs one
    * stamp per partition (sharded-HNSW residency keys) pays one
    * listing pass over the parent, not one round-trip per partition —
    * at ~8,000 shards that is the difference between one pass and
    * ~8,000 driver RPCs per serve call. Children with NO visible files
    * (the debris of an aborted write) are not returned — callers skip
    * them exactly as they skip an absent dir; files sitting directly
    * under `path` belong to no child and are ignored. Paths with a
    * hidden component anywhere (`.staging-*` working dirs) are
    * filtered out, preserving [[of]]'s hidden-dir convention, which
    * the recursive lister itself does not honor. */
  def ofChildren(spark: SparkSession, path: String): Seq[(String, String)] = {
    val fs0 = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs0.makeQualified(new org.apache.hadoop.fs.Path(path))
    if (!fs0.exists(root)) return Nil
    val byChild = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    val it = fs0.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = root.toUri.relativize(st.getPath.toUri).getPath
      val comps = rel.split("/")
      if (comps.length >= 2 && comps.forall(isVisible)) {
        val prefix =
          if (comps.length == 2) ""
          else comps.slice(1, comps.length - 1).mkString("", "/", "/")
        byChild.getOrElseUpdate(comps.head,
          scala.collection.mutable.ArrayBuffer.empty[String]) +=
          entryOf(st, prefix)
      }
    }
    byChild.toSeq
      .map { case (name, entries) => (name, entries.sorted.mkString(";")) }
      .sortBy(_._1)
  }

  /** The corpus-relation stamp every embedding-derived memo keys on
    * (one definition — Hnsw and Similarity share it, so the formats
    * cannot drift apart). */
  def ofCorpus(spark: SparkSession, dir: String): String =
    of(spark, s"$dir/embeddings.parquet")

  /** A driver-side memo under the stamp contract (class doc): one
    * entry per key, tagged with the stamp it was built from. */
  final class Memo[K, V] {
    private val entries =
      new java.util.concurrent.ConcurrentHashMap[K, (String, V)]()
    Memo.onInvalidateAll(() => clear())

    /** The entry for `key` if built under `stamp`; otherwise `compute`
      * it and replace whatever the key held, atomically — concurrent
      * first callers compute once. A `compute` that throws leaves NO
      * entry (a stale one is dropped too), so a refusal raised inside
      * it runs again on the next call. `compute` must not touch this
      * same memo (the map rejects a recursive update). */
    def apply(key: K, stamp: String)(compute: => V): V = {
      var failure: Throwable = null
      val e = entries.compute(key, (_, old) =>
        if (old != null && old._1 == stamp) old
        else try (stamp, compute) catch { case t: Throwable => failure = t; null })
      if (failure != null) throw failure
      e._2
    }

    /** Lookup only: the value for `key` if built under `stamp`. */
    def get(key: K, stamp: String): Option[V] =
      Option(entries.get(key)).collect { case (s, v) if s == stamp => v }

    /** Store `value` for `key` as built under `stamp`, replacing any
      * entry — for callers that memoize only some outcomes. */
    def put(key: K, stamp: String, value: V): Unit = {
      entries.put(key, (stamp, value)); ()
    }

    def remove(key: K): Unit = { entries.remove(key); () }
    def clear(): Unit = entries.clear()
    def size: Int = entries.size
  }

  object Memo {
    private val resets =
      new java.util.concurrent.CopyOnWriteArrayList[() => Unit]()

    /** Register a reset [[invalidateAll]] runs — every [[Memo]] does so
      * at construction; non-`Memo` driver state joins explicitly. */
    private[graft] def onInvalidateAll(reset: () => Unit): Unit = {
      resets.add(reset); ()
    }

    /** Drop every registered memo entry: the one cold-state reset for
      * timing a full train + answer pipeline. */
    def invalidateAll(): Unit = resets.forEach(r => r())
  }
}
