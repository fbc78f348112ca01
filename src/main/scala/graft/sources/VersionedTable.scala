package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Minimal versioned-table layout: immutable parquet data files plus a
  * per-version manifest listing exactly the files visible in that
  * snapshot — the metadata-layer pattern (Delta/Iceberg-style) that
  * gives a 100 TB table atomic commits, snapshot isolation, time
  * travel, merge-on-read deletes, and exactly-once streaming ingest
  * WITHOUT ever rewriting data for an append or a delete:
  *
  *   - every commit writes its rows to a fresh uniquely-named
  *     `data/c<N>_<token>/` directory (files are immutable once written,
  *     so concurrent readers of older snapshots are never disturbed, and
  *     two in-flight writers can never collide on a data path);
  *   - the manifest (`_manifest/<N>.manifest`: `version=` line, optional
  *     `txn=` line, then one entry per line) is staged to a temp name
  *     and published with a CREATE-NEW hard link — a reader either sees
  *     version N fully or not at all, AND a version number can be won by
  *     exactly one writer (`Files.createLink` fails with
  *     `FileAlreadyExistsException` if the slot is taken), which is the
  *     entire commit protocol: optimistic concurrency with the manifest
  *     link as the compare-and-swap;
  *   - a writer that loses the race re-seats its (already-written) data
  *     directory onto the next free version and retries — safe for
  *     appends (the carried snapshot is re-read from the new head) and
  *     for caller-supplied overwrites (the caller's frame IS the
  *     intended snapshot regardless of interleaving); commits whose
  *     CONTENT was derived from a snapshot ([[deleteWhere]],
  *     [[compact]]) instead validate that the head they read is still
  *     the head they replace, and fail loudly with
  *     `ConcurrentModificationException` on conflict — blind retry
  *     there would resurrect rows a concurrent commit removed;
  *   - a data entry is a relative path; a DELETE entry is
  *     `D:<bound>:<path>` — a parquet file of doomed keys that applies
  *     only to data commits ≤ `bound`, so a later re-insert of a
  *     deleted key is NOT swallowed by the old tombstone (the same
  *     commit-scoping that file-scoped deletion vectors provide);
  *   - a read pins ONE manifest, so long queries are isolated from
  *     later commits (snapshot isolation);
  *   - `vacuum` deletes files referenced only by expired manifests,
  *     keeping the newest `retain` versions readable;
  *   - commits may record per-file column zone maps (`statsCols`), and
  *     [[readWhere]] prunes files from the manifest alone — a range
  *     read over range-clustered data plans over a handful of files
  *     without opening a single parquet footer;
  *   - `commitIfAbsent` makes a commit idempotent under a caller
  *     transaction id (recorded inside the atomically-published
  *     manifest), which is exactly what a foreachBatch streaming sink
  *     needs for exactly-once ingest across batch replays.
  *
  * Scale note: snapshot metadata grows with FILE count, not row count —
  * ~800k entries for 100 TB at 128 MB files — and is only read on plan
  * construction. Append and delete manifests record a `carry=<prev>`
  * POINTER plus their fresh entries, so the per-commit metadata write is
  * O(fresh files), never a table-sized rewrite; chains resolve with
  * per-version memoization, and vacuum MATERIALIZES any retained
  * manifest whose chain crosses the expiry cut (the Delta-checkpoint
  * step, folded into retention) before deleting predecessors.
  * Production formats shard the resolved lists further (Iceberg
  * manifest lists); this layout keeps the protocol obvious while
  * keeping commit cost delta-sized.
  */
object VersionedTable {

  private def manifestDir(table: String): Path = Paths.get(table, "_manifest")

  private[sources] def isDeleteEntry(e: String): Boolean = e.startsWith("D:")
  // POSITIONAL deletion vectors ride ordinary bounded `D:` entries; the
  // FILE NAME marks the kind: `posdel-*.parquet` files hold (_file, _pos)
  // row positions (Iceberg's position-delete shape, re-expressed for this
  // manifest format) instead of doomed keys. Classification, bounding,
  // pairing, carry and vacuum all work unchanged; only the APPLICATION
  // differs (skip positions instead of probing keys).
  private[sources] def isPosDeleteFile(path: String): Boolean =
    path.split('/').last.startsWith("posdel-")
  // file identity inside a deletion vector: the path below the table's
  // data/ dir — unique per table (commit dirs carry a random token) and
  // stable under table moves (no absolute paths in the format)
  private[sources] def dvKeyOf(path: String): String = {
    val i = path.lastIndexOf("/data/")
    if (i >= 0) path.substring(i + 6) else path.stripPrefix("data/")
  }
  // a replace commit's removal line: `R:<path>` drops the carried entry
  // with that path during chain resolution — the manifest form of
  // file-granular copy-on-write (DELETE rewrites only touched files).
  // R: lines exist only in raw manifests; resolved entry lists never
  // contain them (resolution consumes removals before memoizing).
  private def isRemoveEntry(e: String): Boolean = e.startsWith("R:")
  // entry grammar:
  //   ["D:<bound>:"] <path> ["#" <rows>["@" <bytes>] ["#" <zones>
  //     ["#" <non-nulls> ["#" <string zones> ["#" <member blooms>]]]]]
  //   | "R:" <path>
  // rows is the commit-time footer count and bytes the file size; each
  // later segment is a `;`-separated cell list, absent or empty when the
  // commit recorded none: zones `col=<min>..<max>` (long, or sortable
  // bits under `~col` for doubles), non-nulls `col=<n>`, string zones
  // `col=<b64 lo>[*]..<b64 hi>[*]` (`*` marks a truncated side, an empty
  // hi is unbounded), member blooms `col=<b64 bloom>`. [[parseEntry]] is
  // the one reader of the segments.
  private def entryBody(e: String): String =
    if (isDeleteEntry(e)) e.split(":", 3)(2) else e
  private def entryPath(e: String): String = {
    val b = entryBody(e)
    val i = b.indexOf('#')
    if (i < 0) b else b.substring(0, i)
  }
  // dir grammar: c<N> (pre-token layouts) or c<N>_<token>; N is the
  // commit the data belongs to, which scopes tombstone bounds
  private def dirCommit(dir: String): Long =
    dir.stripPrefix("c").takeWhile(_.isDigit).toLong
  private def dataCommitOf(e: String): Long = dirCommit(entryPath(e).split("/")(1))

  /** Parse one data or delete entry into a [[FileEntry]] — every `#`
    * segment is split here and nowhere else. `tombstones` are the delete
    * files that apply to it (bound ≥ its commit), which only the
    * snapshot knows.
    */
  private[sources] def parseEntry(e: String, tombstones: Seq[String]): FileEntry = {
    val parts = entryBody(e).split("#", -1)
    def cells(i: Int): Iterator[String] =
      if (parts.length <= i || parts(i).isEmpty) Iterator.empty
      else parts(i).split(';').iterator
    val rb = if (parts.length < 2) "" else parts(1)
    val at = rb.indexOf('@')
    FileEntry(parts(0), dirCommit(parts(0).split("/")(1)), tombstones,
      rb.takeWhile(_ != '@').toLongOption,
      if (at < 0) None else rb.substring(at + 1).toLongOption,
      zoneCells(cells(2)),
      cells(3).flatMap { kv =>
        val eq = kv.indexOf('=')
        if (eq <= 0) None
        else kv.substring(eq + 1).toLongOption.map(kv.substring(0, eq) -> _)
      }.toMap,
      strZoneCells(cells(4)),
      if (parts.length > 4) parts(4) else "",
      if (parts.length > 5) parts(5) else "")
  }

  /** Integral zone cells `col=<min>..<max>`. String (`s~`) cells are
    * skipped by name: a digits-only base64 bound could otherwise pass
    * for a long zone; member (`b~`) cells have no `..` and never parse.
    */
  private def zoneCells(cells: Iterator[String]): Map[String, (Long, Long)] =
    cells.filterNot(_.startsWith("s~")).flatMap { kv =>
      val eq = kv.indexOf('=')
      val dots = kv.indexOf("..", eq + 1)
      if (eq <= 0 || dots <= eq) None
      else for {
        mn <- kv.substring(eq + 1, dots).toLongOption
        mx <- kv.substring(dots + 2).toLongOption
      } yield kv.substring(0, eq) -> (mn, mx)
    }.toMap

  /** String zone cells `col=<b64 lo>..<b64 hi|empty>` → (lo bytes,
    * optional hi bytes); truncation stars are dropped, since pruning
    * consumes every bound.
    */
  private def strZoneCells(cells: Iterator[String])
      : Map[String, (Array[Byte], Option[Array[Byte]])] = {
    val dec = java.util.Base64.getDecoder
    cells.flatMap { kv =>
      val eq = kv.indexOf('=')
      val dots = kv.indexOf("..", eq + 1)
      if (eq <= 0 || dots < 0) None
      else try {
        val lo = dec.decode(kv.substring(eq + 1, dots).stripSuffix("*"))
        val hiS = kv.substring(dots + 2).stripSuffix("*")
        val hi = if (hiS.isEmpty) None else Some(dec.decode(hiS))
        Some(kv.substring(0, eq) -> (lo, hi))
      } catch { case _: IllegalArgumentException => None }
    }.toMap
  }

  /** Member bloom cells `col=<b64 bloom>` → bloom bytes. */
  private[sources] def bloomCells(cells: Iterator[String]): Map[String, Array[Byte]] = {
    val dec = java.util.Base64.getDecoder
    cells.flatMap { kv =>
      val eq = kv.indexOf('=')
      if (eq <= 0) None
      else try Some(kv.substring(0, eq) -> dec.decode(kv.substring(eq + 1)))
      catch { case _: IllegalArgumentException => None }
    }.toMap
  }

  /** The `s~` / `b~` cells of a rollup or index cell list, prefix cut. */
  private def tagged(cells: String, tag: String): Iterator[String] =
    cells.split(';').iterator.filter(_.startsWith(tag)).map(_.substring(2))

  /** Drain a directory stream THROUGH a closing bracket: Files.list /
    * Files.walk hold an open directory fd until closed, and draining
    * via .iterator never closes — each call would leak one fd until GC,
    * which on a driver planning over many tables (or a long test
    * suite) exhausts the process limit. Every list/walk in this file
    * routes through here.
    */
  private[sources] def usingPaths[A](
      s: java.util.stream.Stream[Path])(f: Iterator[Path] => A): A =
    try f(s.iterator.asScala) finally s.close()

  /** Committed versions, ascending (empty for a nonexistent table). */
  def versions(table: String): Seq[Long] = {
    val dir = manifestDir(table)
    if (!Files.isDirectory(dir)) Seq.empty[Long]
    else usingPaths(Files.list(dir))(_
      .map(_.getFileName.toString)
      .collect { case s if s.endsWith(".manifest") => s.stripSuffix(".manifest").toLong }
      .toSeq.sorted)
  }

  private def manifestLines(table: String, version: Long): Seq[String] =
    Files.readAllLines(manifestDir(table).resolve(s"$version.manifest"))
      .asScala.toSeq

  private def isHeader(l: String): Boolean =
    l.startsWith("txn=") || l.startsWith("ts=") || l.startsWith("carry=") ||
      l.startsWith("rollup=") || l.startsWith("schema=") ||
      l.startsWith("index=") || l.startsWith("total=") ||
      l.startsWith("delta=")

  /** The version this manifest carries its predecessor's entries from —
    * append/delete commits record `carry=<prev>` instead of rewriting
    * the full (at 100 TB: ~800k-line) file list, so APPEND METADATA COST
    * IS O(fresh files), not O(table files). Overwrites (and vacuum's
    * materialization) write self-contained manifests, resetting chains.
    */
  private def carryOf(table: String, version: Long): Option[Long] =
    manifestHeaderBytes(table, version)._1
      .find(_.startsWith("carry=")).map(_.stripPrefix("carry=").toLong)

  private def ownEntries(lines: Seq[String], version: Long): Seq[String] = {
    require(lines.nonEmpty && lines.head == s"version=$version",
      s"corrupt manifest for version $version")
    lines.tail.dropWhile(isHeader)
  }

  // resolved-entry cache: manifests are immutable once published (and
  // vacuum's materialization rewrites byte-different but ENTRY-identical
  // content), so a resolved list never changes for a (table, version)
  private val resolvedEntries =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Seq[String]]()

  // OWN-entry cache: a version's own (fresh) entry lines, O(fresh) per
  // version and immutable once published. Every head-down chain walk
  // (selective planning, schema-dir enumeration, removal scans) needs these
  // for each carry version — without the memo, a plan over a k-append chain
  // re-reads k manifest FILES on every call (measured 816 ms per re-plan at
  // a 10k-commit chain, SCALING.md round 19 "ingest steady state"). Total
  // retained size across a chain is O(entries ever appended) — the same
  // order as ONE resolved snapshot — and, unlike [[resolvedEntries]], each
  // value is O(fresh), so it is NOT subject to [[boundCache]]'s
  // newest-versions window; it is invalidated with the version (vacuum
  // expiry, materialization rewrite, dropTable).
  private val ownEntriesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Seq[String]]()

  // incremental chain-fold memos (persistedHeaders / chainDataDirs /
  // snapshotFileCountFast): value(v) = value(carry(v)) ⊕ own(v), one
  // entry per version with STRUCTURAL SHARING between adjacent versions
  // — total retained memory is O(declarations ever made), not
  // O(versions × dirs). A DEDICATED map, deliberately NOT
  // parsedSnapshots: these folds run inside other memos' computeIfAbsent
  // closures (snapshotSchema's), and any same-map write from inside a
  // ConcurrentHashMap compute throws "Recursive update" (the
  // manifestHeaderBytes lesson). Invalidated alongside headerCache
  // (vacuum expiry/materialization, dropTable); survives boundCache's
  // newest-versions window like headerCache does, and for the same
  // reason — chain walks need every version, not the newest 64.
  private val chainFoldCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String), AnyRef]()

  private def ownEntriesOf(table: String, v: Long): Seq[String] = {
    val key = (table, v)
    val hit = ownEntriesCache.get(key)
    if (hit != null) hit
    else {
      val computed = ownEntries(manifestLines(table, v), v)
      ownEntriesCache.put(key, computed)
      computed
    }
  }

  /** Entries (data + delete) of a version's SNAPSHOT, carry chain
    * resolved, prefix intact. Iterative walk with ONE mutable buffer
    * and memoization of ONLY the queried version: the old fold
    * materialized (and memoized) a fresh O(files) immutable list for
    * EVERY chain version it crossed — O(chain × files) transient
    * memory, which at a 10k-commit chain over a 100k-file base is a
    * guaranteed driver OOM (surfaced by checkpoint's resolution at
    * exactly that shape; boundCache would have dropped the extra memos
    * AFTER the peak). Re-resolving another version re-walks from the
    * nearest cached-or-base level — CPU-only, own entries and headers
    * are cached per version ([[ownEntriesCache]]).
    */
  private[sources] def manifestEntries(table: String, version: Long): Seq[String] = {
    val cached = resolvedEntries.get((table, version))
    if (cached != null) return cached
    // walk down to the first cached or self-contained manifest
    var chain = List.empty[(Long, Seq[String])] // (version, own fresh entries)
    var v = version
    var base: Seq[String] = Seq.empty
    var resolving = true
    while (resolving) {
      val hit = resolvedEntries.get((table, v))
      if (hit != null) { base = hit; resolving = false }
      else {
        chain = (v, ownEntriesOf(table, v)) :: chain
        carryOf(table, v) match {
          case Some(prev) => v = prev
          case None       => resolving = false
        }
      }
    }
    val buf = scala.collection.mutable.ArrayBuffer.from(base)
    chain.foreach { case (_, own) =>
      val (removes, adds) = own.partition(isRemoveEntry)
      if (removes.nonEmpty) {
        val gone = removes.map(_.stripPrefix("R:")).toSet
        buf.filterInPlace(e => !gone.contains(entryPath(e)))
      }
      buf ++= adds
    }
    val acc: Seq[String] = buf.toSeq
    resolvedEntries.put((table, version), acc)
    boundCache(table)
    acc
  }

  // cache ceiling: each resolved list is O(snapshot files) (~800k entries
  // at the 100 TB design point), so an unbounded memo across a long
  // append history is O(versions × files) of driver heap. Keep only the
  // newest versions per table — older snapshots re-resolve on demand
  // (one manifest walk), which is the right trade for time-travel reads.
  private val maxCachedVersionsPerTable = 64

  private def boundCache(table: String): Unit = {
    val cached = resolvedEntries.keySet.asScala
      .collect { case (t, v) if t == table => v }.toSeq
    if (cached.size > maxCachedVersionsPerTable)
      cached.sorted.dropRight(maxCachedVersionsPerTable)
        .foreach { v =>
          resolvedEntries.remove((table, v))
          parsedSnapshots.keySet.removeIf(k => k._1 == table && k._2 == v)
          // headerCache (~300 B/version) and ownEntriesCache (O(fresh)/
          // version) deliberately SURVIVE this window: every head-down
          // chain walk touches them for ALL chain versions, so evicting
          // them here turned each plan over a long append chain into
          // O(chain) file re-reads (10k-commit chain: 816 ms re-plans;
          // SCALING.md round 19 "ingest steady state"). Both are invalidated
          // with the version itself (vacuum expiry/materialization,
          // dropTable).
        }
  }

  /** Header lines of version `v`'s manifest plus the byte offset of its
    * first entry line and the file's (size, mtime) at read — WITHOUT
    * streaming the entry section, which is O(files) on self-contained
    * manifests. The (size, mtime) pair guards the seek-based block
    * reads below against a concurrent vacuum materialization rewriting
    * the same version file (in-process rewrites also invalidate this
    * memo directly).
    */
  // DEDICATED header cache, deliberately NOT parsedSnapshots:
  // manifestHeaderBytes is called from inside other memos' compute
  // closures (persistedHeaders, carry walks, pinned-entry resolution),
  // and ANY same-map modification inside ConcurrentHashMap's
  // computeIfAbsent — even to a different key, if it lands in the same
  // bin — throws "Recursive update". A separate map is structurally
  // immune.
  private val headerCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), (Seq[String], Long, Long, Long)]()

  private def manifestHeaderBytes(table: String, v: Long)
      : (Seq[String], Long, Long, Long) = {
    val key = (table, v)
    val hit = headerCache.get(key)
    if (hit != null) return hit
    val computed = {
      val p = manifestDir(table).resolve(s"$v.manifest")
      val size = Files.size(p)
      val mtime = Files.getLastModifiedTime(p).toMillis
      val in = new java.io.BufferedInputStream(Files.newInputStream(p), 1 << 16)
      try {
        val headers = Seq.newBuilder[String]
        val buf = new java.io.ByteArrayOutputStream(256)
        var pos = 0L
        var lineStart = 0L
        var entryStart = -1L
        var first = true
        var done = false
        while (!done) {
          val b = in.read()
          if (b < 0) {
            // file of headers only (empty table) — entries start at EOF.
            // A final unterminated line is still classified.
            if (buf.size() > 0) {
              val line = new String(buf.toByteArray,
                java.nio.charset.StandardCharsets.UTF_8)
              if (first || isHeader(line)) { headers += line; entryStart = pos }
              else entryStart = lineStart
            } else entryStart = pos
            done = true
          } else {
            pos += 1
            if (b == '\n') {
              val raw = new String(buf.toByteArray,
                java.nio.charset.StandardCharsets.UTF_8)
              val line = if (raw.endsWith("\r")) raw.dropRight(1) else raw
              buf.reset()
              if (first) {
                require(line == s"version=$v",
                  s"corrupt manifest for version $v")
                headers += line
                first = false
                lineStart = pos
              } else if (isHeader(line)) {
                headers += line
                lineStart = pos
              } else { entryStart = lineStart; done = true }
            } else buf.write(b)
          }
        }
        (headers.result(), entryStart, size, mtime)
      } finally in.close()
    }
    headerCache.putIfAbsent(key, computed)
    computed
  }

  /** Seek-read one indexed entry block (`off`/`len` relative to the
    * entry section) of version `v`'s manifest. Returns None — caller
    * falls back to the full streaming read — when the file changed
    * since the header memo (concurrent materialization) or the block
    * fails its shape validation.
    */
  private def readEntryBlock(
      table: String, v: Long, entryStart: Long, off: Long, len: Long,
      expectSize: Long, expectMtime: Long,
      validate: String => Boolean): Option[Seq[String]] = {
    val p = manifestDir(table).resolve(s"$v.manifest")
    if (len > Int.MaxValue - 8) return None
    if (Files.size(p) != expectSize ||
      Files.getLastModifiedTime(p).toMillis != expectMtime) {
      headerCache.remove((table, v))
      ownEntriesCache.remove((table, v))
      chainFoldCache.keySet.removeIf(k => k._1 == table && k._2 == v)
      return None
    }
    val ch = java.nio.channels.FileChannel.open(p)
    try {
      val buf = java.nio.ByteBuffer.allocate(len.toInt)
      ch.position(entryStart + off)
      while (buf.hasRemaining && ch.read(buf) >= 0) ()
      if (buf.hasRemaining) return None // truncated: not the file we indexed
      // split on '\n' and strip a trailing '\r' — NEVER the reader's
      // platform separator: a manifest written with '\n' but read where
      // lineSeparator() is "\r\n" (shared filesystem, Windows JVM)
      // would otherwise collapse the whole block into one line that
      // can still pass validate, silently vanishing N-1 entries from a
      // selective plan. Byte accounting stays pinned to the WRITER's
      // separator (indexedEntryLayout computes offsets on the platform
      // that writes), so both encodings parse exactly here.
      val lines = new String(buf.array(), 0, len.toInt,
        java.nio.charset.StandardCharsets.UTF_8)
        .split('\n').toSeq
        .map(l => if (l.endsWith("\r")) l.dropRight(1) else l)
        .filter(_.nonEmpty)
      if (lines.nonEmpty && lines.forall(validate)) Some(lines) else None
    } finally ch.close()
  }

  /** Spec introspection: plans served by the seek-based fast path. */
  private[graft] val selectiveSeekHits =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Data-file count of a snapshot from HEADERS alone: the base
    * manifest's `total=` plus each carry manifest's `delta=` adds−removes
    * — exact (see the count-line invariant at publish), never O(files).
    * None when any manifest in the chain predates count lines — callers
    * fall back to the O(files) memo.
    */
  private[sources] def snapshotFileCountFast(
      table: String, version: Option[Long]): Option[Long] = {
    val head = version.getOrElse {
      val vs = versions(table)
      if (vs.isEmpty) return None
      vs.last
    }
    // incremental chain fold, like persistedHeaders: count(v) is
    // count(carry) + delta, memoized per version, so the walk runs only
    // over versions not yet counted (O(fresh) per append). A chain with
    // any pre-count-line manifest yields None, unmemoized — those
    // legacy walks stay rare and cheap (header-cache hits).
    var stack = List.empty[Long] // ascending after the prepends
    var v: Option[Long] = Some(head)
    var acc = 0L
    var seeded = false
    while (v.isDefined && !seeded) {
      val hit = chainFoldCache.get((table, v.get, "fcount"))
      if (hit != null) {
        acc = hit.asInstanceOf[java.lang.Long].longValue()
        seeded = true
      } else {
        val hdr = manifestHeaderBytes(table, v.get)._1
        if (hdr.exists(_.startsWith("carry="))) {
          stack = v.get :: stack
          v = carryOf(table, v.get)
        } else {
          acc = hdr.find(_.startsWith("total="))
            .flatMap(_.stripPrefix("total=").toLongOption).getOrElse(return None)
          chainFoldCache.put((table, v.get, "fcount"), java.lang.Long.valueOf(acc))
          seeded = true
        }
      }
    }
    if (!seeded) return None // chain ended without a total= base
    stack.foreach { w =>
      val d = manifestHeaderBytes(table, w)._1.find(_.startsWith("delta="))
        .getOrElse(return None)
      d.stripPrefix("delta=").split(' ') match {
        case Array(a, r) =>
          (a.toLongOption, r.toLongOption) match {
            case (Some(x), Some(y)) => acc += x - y
            case _                  => return None
          }
        case _ => return None
      }
      chainFoldCache.put((table, w, "fcount"), java.lang.Long.valueOf(acc))
    }
    Some(acc)
  }

  /** SELECTIVE raw entries through the `index=` segment: resolve the
    * carry chain reading only HEADERS plus each version's own (O(fresh))
    * entries, then SEEK into the self-contained base manifest for
    * exactly the commit directories `keepDir` admits — never streaming
    * the base's O(files) entry section. Delete entries (the `!del`
    * block) are always read: tombstones must never be dropped by
    * pruning. Returns None when the base carries no index (legacy
    * manifest) or any block read fails its guard — callers fall back to
    * the full path. Removals along the chain apply ascending, exactly
    * like [[manifestEntries]]. A directory or chunk drops when its
    * rollup cells exclude `prune` ([[Prune.excludes]]: a cell bounds every
    * row-carrying file under it). The seek engages only when something
    * actually drops; otherwise None, and the streamed path's per-dir memo
    * serves repeat plans better.
    */
  private[sources] def selectiveRawEntries(
      table: String, version: Option[Long], prune: Prune)
      : Option[(Seq[(String, Long, Seq[String])], Seq[String])] = {
    val head = version.getOrElse {
      val vs = versions(table)
      if (vs.isEmpty) return None
      vs.last
    }
    val keepDir = !rollupExcludes(table, version, prune)(_: String)
    // the chain's own-entry lists (ascending) plus its base version,
    // memoized per version with cons-cell sharing: chainOwn(v) is
    // (own(v) :: chainOwn(carry)), so a plan's walk is one memo hit and
    // the first walk after an append pays O(fresh) — the head-down
    // re-walk used to cost O(chain) map probes per planning call
    type ChainOwn = (List[Seq[String]], Long) // descending lists, base
    def chainOwnOf(h: Long): ChainOwn = {
      var stack = List.empty[Long]
      var v = h
      var acc: ChainOwn = null
      while (acc == null) {
        val hit = chainFoldCache.get((table, v, "chainown"))
        if (hit != null) acc = hit.asInstanceOf[ChainOwn]
        else manifestHeaderBytes(table, v)._1
          .find(_.startsWith("carry=")).map(_.stripPrefix("carry=").toLong) match {
          case Some(prev) => stack = v :: stack; v = prev
          case None =>
            acc = (Nil, v)
            chainFoldCache.put((table, v, "chainown"), acc)
        }
      }
      // stack is ascending (deepest first) after the prepends; rebuild
      // upward so each memoized level shares its predecessor's tail
      stack.foreach { w =>
        acc = (ownEntriesOf(table, w) :: acc._1, acc._2)
        chainFoldCache.put((table, w, "chainown"), acc)
      }
      acc
    }
    val (chainDesc, base) = chainOwnOf(head)
    val chain = chainDesc.reverse // ascending for the fold below
    val (bHdr, entryStart, size, mtime) = manifestHeaderBytes(table, base)
    // (dirspec, off, len, chunk cells): a dirspec may carry a %<j>
    // CHUNK suffix whose rollup cells prune exactly like commit rollups
    // — a selective plan skips inside one giant commit, not just
    // across commits
    val idx = bHdr.filter(_.startsWith("index=")).flatMap { l =>
      l.stripPrefix("index=").split(' ') match {
        case Array(dir, o, n) =>
          for (off <- o.toLongOption; len <- n.toLongOption) yield (dir, off, len, "")
        case Array(dir, o, n, cells) =>
          for (off <- o.toLongOption; len <- n.toLongOption) yield (dir, off, len, cells)
        case _ => None
      }
    }
    if (idx.isEmpty) return None
    val live = idx.filter { case (dirspec, _, _, cells) =>
      dirspec == "!del" || keepDir(dirspec.takeWhile(_ != '%')) && !prune.excludes(
        zoneCells(cells.split(';').iterator),
        strZoneCells(tagged(cells, "s~")), bloomCells(tagged(cells, "b~")))
    }
    // engagement: with every block surviving, streaming once and
    // memoizing the reusable full layout serves repeat plans better
    if (live.size == idx.size) return None
    // base blocks: kept data dirs + the delete block. Per-dir blocks are
    // memoized immutable Seqs SHARED into the result (no per-plan copy —
    // a chainless warm plan re-assembles in O(selected dirs), not
    // O(selected entries)); chain edits below copy only the dirs they
    // actually touch.
    val buckets = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[String]]
    var dels = Seq.empty[String]
    live.foreach { case (dirspec, off, len, _) =>
      val dir = dirspec.takeWhile(_ != '%')
      if (dirspec == "!del") {
        val block = readEntryBlock(table, base, entryStart, off, len,
          size, mtime, isDeleteEntry)
        if (block.isEmpty) return None
        dels = dels ++ block.get
      } else {
        // memoize SUCCESSFUL block reads only — a guard-tripped read
        // must retry next plan, not pin the fallback forever
        val key = (table, base, s"rawdir:$dirspec")
        val cached = parsedSnapshots.get(key)
        val block =
          if (cached != null) Some(cached.asInstanceOf[Seq[String]])
          else {
            val r = readEntryBlock(table, base, entryStart, off, len,
              size, mtime,
              e => !isDeleteEntry(e) && !isRemoveEntry(e) &&
                entryPath(e).startsWith(s"data/$dir/"))
            r.foreach(lines => parsedSnapshots.put(key, lines))
            r
          }
        if (block.isEmpty) return None
        // buckets stay at CHUNK granularity (keyed by dirspec): the
        // downstream per-block memos must never cache a bounds-dependent
        // SUBSET under a whole-dir key — a later plan with different
        // bounds would silently plan without the missing chunks
        buckets.update(dirspec,
          buckets.get(dirspec).fold(block.get)(_ ++ block.get))
      }
    }
    // chain application, ascending: removes drop from the selection,
    // adds append (fresh dirs join subject to keepDir; deletes always)
    chain.foreach { own =>
      val (removes, adds) = own.partition(isRemoveEntry)
      if (removes.nonEmpty) {
        val gone = removes.map(_.stripPrefix("R:")).toSet
        buckets.mapValuesInPlace((_, es) =>
          es.filterNot(e => gone.contains(entryPath(e))))
        dels = dels.filterNot(e => gone.contains(entryPath(e)))
        ()
      }
      adds.foreach { e =>
        if (isDeleteEntry(e)) dels = dels :+ e
        else {
          val dir = entryPath(e).split('/')(1)
          if (keepDir(dir))
            buckets.update(dir, buckets.getOrElse(dir, Seq.empty) :+ e)
        }
      }
    }
    Some((buckets.iterator.filter(_._2.nonEmpty).map { case (dirspec, es) =>
      (dirspec, dirCommit(dirspec), es)
    }.toSeq, dels))
  }

  /** Does a commit dir's persisted rollup exclude `prune`? */
  private def rollupExcludes(
      table: String, version: Option[Long], prune: Prune): String => Boolean =
    if (prune.isEmpty) _ => false
    else {
      val (rolls, _, strRolls, memberRolls) = persistedHeaders(table, version)
      dir => prune.excludes(rolls.getOrElse(dir, Map.empty),
        strRolls.getOrElse(dir, Map.empty), memberRolls.getOrElse(dir, Map.empty))
    }

  /** The chunks [[select]] parses, before any entry is parsed: the
    * snapshot's data entries as (dir or index chunk, commit, raw entries)
    * in commit-grouped first-appearance order, plus its delete entries.
    * Commit dirs (and index chunks) whose rollup cells exclude `prune`
    * are dropped here — through [[selectiveRawEntries]]' seek when the
    * base is indexed and something drops, through the streamed per-dir
    * grouping with the same dead-dir test otherwise.
    */
  private[sources] def survivingChunks(
      table: String, version: Option[Long], prune: Prune)
      : (Seq[(String, Long, Seq[String])], Seq[String]) =
    selectiveRawEntries(table, version, prune) match {
      case Some(hit) => selectiveSeekHits.incrementAndGet(); hit
      case None =>
        val entries = pinnedEntries(table, version)
        // raw entry strings grouped by commit directory — first-appearance
        // order, no segment parse
        val byDir = memoParsed(table, version, "rawbydir") {
          val order = scala.collection.mutable.LinkedHashMap
            .empty[String, scala.collection.mutable.ArrayBuffer[String]]
          entries.filterNot(isDeleteEntry).foreach { e =>
            order.getOrElseUpdate(entryPath(e).split('/')(1),
              scala.collection.mutable.ArrayBuffer.empty) += e
          }
          order.iterator.map { case (dir, es) => (dir, dirCommit(dir), es.toSeq) }.toSeq
        }
        val dead = rollupExcludes(table, version, prune)
        (byDir.filterNot(d => dead(d._1)), entries.filter(isDeleteEntry))
    }

  /** THE planner selection: the data files of `table`'s snapshot at
    * `version` that `prune` admits, as [[FileEntry]]s in commit-grouped
    * first-appearance order (deterministic plans). Only the
    * [[survivingChunks]] are parsed, and every file of them then passes
    * [[Prune.admits]]. Parsed entries memoize per (version, chunk), so a
    * cold selective plan parses only the surviving chunks and later plans
    * with other bounds reuse them. Because a rollup cell bounds every
    * row-carrying file under it, the result equals a per-file filter of
    * the whole snapshot on every file that holds rows.
    */
  private[sources] def select(
      table: String, version: Option[Long], prune: Prune): Seq[FileEntry] = {
    val v = Some(version.getOrElse {
      val vs = versions(table)
      require(vs.nonEmpty, s"no committed versions at $table")
      vs.last
    })
    val (chunks, dels) = survivingChunks(table, v, prune)
    lazy val delRefs = dels.map(e => (e.split(":", 3)(1).toLong, entryPath(e)))
    chunks.iterator.flatMap { case (dirspec, cv, es) =>
      // whole chunks memoize (tombstones included — stable per pinned
      // version), so a warm plan assembles in O(surviving chunks)
      memoParsed(table, v, s"entries:$dirspec") {
        val tombs = delRefs.collect { case (b, p) if b >= cv => p }
        es.map(parseEntry(_, tombs))
      }
    }.filter(prune.admits).toVector
  }

  private def txnOf(table: String, version: Long): Option[String] =
    manifestHeaderBytes(table, version)._1
      .find(_.startsWith("txn=")).map(_.stripPrefix("txn="))

  /** Commit wall-clock (epoch millis), recorded in the manifest header —
    * None for manifests written before timestamps existed.
    */
  def commitTimestamp(table: String, version: Long): Option[Long] =
    manifestHeaderBytes(table, version)._1
      .find(_.startsWith("ts=")).map(_.stripPrefix("ts=").toLong)

  /** TIMESTAMP AS OF resolution: the newest version committed at or
    * before `epochMillis`. Timestamps are MONOTONIZED first (each
    * version's effective time is the running max, the same adjustment
    * Delta applies), so a clock step backwards between commits cannot
    * make a later version resolve before an earlier one. Fails loudly
    * when the table's first commit is later than the asked time (there
    * was no table yet) or when a manifest predates timestamps.
    */
  def versionAsOfTimestamp(table: String, epochMillis: Long): Long = {
    val stamped = versions(table).map { v =>
      v -> commitTimestamp(table, v).getOrElse(throw new IllegalStateException(
        s"version $v of $table has no commit timestamp — written by a " +
          "pre-timestamp layout; use VERSION AS OF"))
    }
    var runningMax = Long.MinValue
    val monotone = stamped.map { case (v, ts) =>
      runningMax = math.max(runningMax, ts); (v, runningMax)
    }
    monotone.takeWhile(_._2 <= epochMillis).lastOption.map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot of $table exists at or before epoch-millis $epochMillis " +
          s"(first commit at ${monotone.headOption.map(_._2)})"))
  }

  /** A committed txn id → its version, for idempotent-ingest lookups. */
  def txnVersion(table: String, txnId: String): Option[Long] =
    versions(table).find(v => txnOf(table, v).contains(txnId))

  /** Publish version `next` with CREATE-NEW semantics: stage the full
    * manifest to a writer-unique temp name, then hard-link it to
    * `<next>.manifest`. The link either creates the target (this writer
    * won the version) or throws `FileAlreadyExistsException` (a
    * concurrent writer got there first) — POSIX `rename` would silently
    * REPLACE an existing target, losing the other writer's commit, so
    * link-as-CAS is the only primitive here. Content atomicity is kept
    * by the staging step: the target name never exists half-written.
    */
  /** PERSISTED commit-level rollups: one `rollup=<dir> <cells>` header
    * line per commit directory present in `entries` ([[rollupCells]]).
    * A later replace commit may remove some of a directory's files,
    * making an old persisted rollup WIDER than the live truth — sound:
    * pruning only drops commits the rollup positively excludes. The
    * payoff is the COLD selective plan: [[select]] reads these lines
    * first and parses entries only for surviving commits.
    */
  private def rollupLines(entries: Seq[String]): Seq[String] = {
    val data = entries.filterNot(e => isDeleteEntry(e) || isRemoveEntry(e))
    data.groupBy(e => entryPath(e).split('/')(1)).toSeq.sortBy(_._1).flatMap {
      case (dir, es) =>
        val cells = rollupCells(es.map(parseEntry(_, Nil)))
        if (cells.isEmpty) None
        else Some(s"rollup=$dir ${cells.mkString(";")}")
    }
  }

  private val byteOrd: Ordering[Array[Byte]] =
    Ordering.fromLessThan((a, b) => byteCompare(a, b) < 0)

  /** The rollup cells of a group of files (a commit dir or an index
    * chunk), over its ROW-CARRYING files only, a column joining a cell
    * family only when EVERY carrying file records it (omission means
    * cannot-exclude):
    *  - `col=lo..hi` — union of the integral zones;
    *  - `s~col=<b64lo>..<b64hi|empty>` — union of the truncated string
    *    zones, the hi side empty unless every file bounds above. The `s~`
    *    prefix keeps the cells invisible to the long parser;
    *  - `b~col=<b64bloom>` — bitwise OR of the member blooms, only when
    *    all blooms share one size (a property change mid-commit declines
    *    rather than OR misaligned bits). Saturation degrades to
    *    cannot-exclude, never to a wrong answer.
    * So a cell excludes a predicate only when every carrying file under
    * it does — what lets a plan skip whole commits and chunks from
    * headers alone.
    */
  private def rollupCells(files: Seq[FileEntry]): Seq[String] = {
    val carrying = files.filterNot(_.rows.contains(0L))
    if (carrying.isEmpty) return Nil
    def common[V](of: FileEntry => Map[String, V]): Seq[(String, Seq[V])] = {
      val ms = carrying.map(of)
      ms.map(_.keySet).reduce(_ intersect _).toSeq.sorted.map(c => c -> ms.map(_(c)))
    }
    val enc = java.util.Base64.getEncoder.withoutPadding
    common(_.zones).map { case (c, zs) =>
      s"$c=${zs.map(_._1).min}..${zs.map(_._2).max}"
    } ++ common(_.strZones).map { case (c, zs) =>
      val hi =
        if (zs.exists(_._2.isEmpty)) ""
        else enc.encodeToString(zs.flatMap(_._2).max(byteOrd))
      s"s~$c=${enc.encodeToString(zs.map(_._1).min(byteOrd))}..$hi"
    } ++ common(_.memberBlooms).flatMap { case (c, bs) =>
      val len = bs.head.length
      if (len == 0 || bs.exists(_.length != len)) None
      else {
        val u = new Array[Byte](len)
        bs.foreach { b =>
          var i = 0
          while (i < len) { u(i) = (u(i) | b(i)).toByte; i += 1 }
        }
        Some(s"b~$c=${enc.encodeToString(u)}")
      }
    }
  }

  /** PERSISTED commit schemas: one `schema=<dir> <json>` header line per
    * commit directory present in `entries`, read from ONE representative
    * footer at PUBLISH time (the files are already staged; ~2 ms once
    * per commit). Snapshot schema resolution then unions manifest
    * headers instead of opening one footer per commit per process —
    * the other half of the cold-plan cost on long-ingest tables. A
    * best-effort HINT: any failure here skips the line (readers fall
    * back to the footer) rather than blocking a commit.
    */
  private def schemaLines(table: String, entries: Seq[String]): Seq[String] = {
    val data = entries.filterNot(e => isDeleteEntry(e) || isRemoveEntry(e))
    data.groupBy(e => entryPath(e).split('/')(1)).toSeq.sortBy(_._1).flatMap {
      case (dir, es) =>
        try {
          val st = footerSchema(Paths.get(table, es.map(entryPath).min))
          Some(s"schema=$dir ${st.json}")
        } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Entries per index CHUNK: a commit directory larger than this
    * splits into consecutive sub-blocks, each carrying its OWN zone
    * rollup in the index line — so a selective cold plan skips inside
    * a single giant commit (the compacted-table shape at 100 TB), not
    * just across commits. 4096 keeps a 1M-file commit at ~250 header
    * lines.
    */
  // var, not val: specs lower it to exercise chunking at test scale
  @volatile private[graft] var IndexChunkEntries = 4096

  /** INDEXED ENTRY SEGMENT for a self-contained manifest: entries
    * reordered so each commit directory's data entries form ONE
    * contiguous run (first-appearance order preserved — the property
    * deterministic plans key on), delete entries in a final block, and
    * one `index=<dir> <offset> <bytes>` header line per block (offsets
    * relative to the first entry byte; `!del` names the delete block).
    * Directories past [[IndexChunkEntries]] emit per-CHUNK lines
    * `index=<dir>%<j> <offset> <bytes> [cells]` whose [[rollupCells]]
    * let selective plans skip chunks the same way commit rollups skip
    * commits. Cold
    * SELECTIVE plans then SEEK to surviving blocks instead of streaming
    * O(files) lines. Entry reordering is semantics-free: snapshot
    * resolution treats the list as a set, and grouping keeps the dirs'
    * relative first-appearance order.
    */
  private def indexedEntryLayout(entries: Seq[String])
      : (Seq[String], Seq[String]) = {
    val (delE, dataE) = entries.partition(isDeleteEntry)
    val order = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    dataE.foreach { e =>
      order.getOrElseUpdate(entryPath(e).split('/')(1),
        scala.collection.mutable.ArrayBuffer.empty) += e
    }
    val sepLen = System.lineSeparator().getBytes(
      java.nio.charset.StandardCharsets.UTF_8).length
    def blockBytes(es: Seq[String]): Long = es.iterator.map(l =>
      l.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong +
        sepLen).sum
    var off = 0L
    val idx = Seq.newBuilder[String]
    val ordered = Seq.newBuilder[String]
    order.foreach { case (dir, es) =>
      if (es.length <= IndexChunkEntries) {
        val b = blockBytes(es.toSeq)
        idx += s"index=$dir $off $b"
        ordered ++= es
        off += b
      } else es.grouped(IndexChunkEntries).zipWithIndex.foreach {
        case (chunk, j) =>
          val b = blockBytes(chunk.toSeq)
          val cells = rollupCells(chunk.toSeq.map(parseEntry(_, Nil))).mkString(";")
          idx += s"index=$dir%$j $off $b" +
            (if (cells.isEmpty) "" else s" $cells")
          ordered ++= chunk
          off += b
      }
    }
    if (delE.nonEmpty) {
      idx += s"index=!del $off ${blockBytes(delE)}"
      ordered ++= delE
    }
    (ordered.result(), idx.result())
  }

  /** `f`'s writer-unique temp sibling, written in full with `lines`. */
  private def stageBeside(f: Path, lines: Seq[String]): Path = {
    Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(
      s"${f.getFileName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, lines.asJava)
    tmp
  }

  /** CREATE-ONCE metadata write: stage `lines` beside `f`, then hard-link
    * the temp file to `f`. The link fails when `f` exists, so exactly one
    * writer creates it and a reader sees it whole or not at all — the
    * compare-and-swap under manifest publication and the table's
    * write-once specs. True iff this call created `f`; callers compare
    * what is recorded against what they meant to record.
    */
  private def createOnce(f: Path, lines: Seq[String]): Boolean =
    !Files.exists(f) && {
      val tmp = stageBeside(f, lines)
      try { Files.createLink(f, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally Files.deleteIfExists(tmp)
    }

  /** ATOMIC REPLACE of a metadata file: stage `lines` beside `f`, then
    * move the temp file over it atomically — a reader sees the old
    * content or the new, never a partial file. Last writer wins.
    */
  private def replaceFile(f: Path, lines: Seq[String]): Unit = {
    Files.move(stageBeside(f, lines), f,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def tryPublish(
      table: String, next: Long, entries: Seq[String], txnId: Option[String],
      carry: Option[Long] = None,
      statHeader: Option[Seq[String]] = None): Boolean = {
    // rollup/schema lines depend only on `entries`, not on the version
    // number — retrying callers (restore's CAS loop, publishStaged)
    // precompute them ONCE and pass them in, so a version collision
    // doesn't repeat the O(files) stats parse + O(commits) footer I/O
    // on every attempt
    val (body, idxLines) =
      if (carry.isEmpty) indexedEntryLayout(entries)
      else (entries, Nil) // carry manifests are O(fresh) — nothing to seek
    // exact data-file COUNT lines, so the snapshot's file total resolves
    // from headers alone: `total=` on self-contained manifests, `delta=
    // <adds> <removes>` on carry manifests. R: entries only ever remove
    // DATA entries (every replace path rewrites data files; tombstones
    // retire through self-contained compactions), which is what makes
    // the delta arithmetic exact.
    val countLine =
      if (carry.isEmpty) s"total=${entries.count(e => !isDeleteEntry(e))}"
      else {
        val adds = entries.count(e => !isDeleteEntry(e) && !isRemoveEntry(e))
        s"delta=$adds ${entries.count(isRemoveEntry)}"
      }
    val header = (s"version=$next" +: txnId.map(t => s"txn=$t").toSeq) ++
      Seq(s"ts=${System.currentTimeMillis()}") ++ carry.map(c => s"carry=$c") ++
      Seq(countLine) ++
      statHeader.getOrElse(rollupLines(entries) ++ schemaLines(table, entries)) ++
      idxLines
    createOnce(manifestDir(table).resolve(s"$next.manifest"), header ++ body)
  }

  private[sources] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p))
        usingPaths(Files.list(p))(_.toSeq).foreach(deleteRecursively)
      Files.deleteIfExists(p)
      ()
    }

  /** Write `df` under `data/<dirName>/` and return each parquet file as
    * a full manifest-entry suffix: `<name>#<rows>` plus, when
    * `statsCols` is non-empty, the per-file zone map `#col=min..max;…`.
    * Counts AND stats come from ONE Spark job over the whole commit
    * directory grouped by `input_file_name` — never a job per file,
    * which at an 800k-file commit would be 800k sequentially-scheduled
    * driver round-trips. Stats are recorded only for columns that cast
    * cleanly to long (keys, epochs); a column that doesn't — or an
    * all-null file — simply records no stats and is never pruned.
    */
  private def writeFiles(
      df: DataFrame, table: String, dirName: String,
      statsCols: Seq[String] = Nil,
      checks: Seq[(String, String)] = Nil,
      writeOptions: Map[String, String] = Map.empty): Seq[String] = {
    val dataDir = Paths.get(table, "data", dirName)
    // declared bloom columns ride every programmatic commit as parquet
    // write options (merged into the write's hadoop conf); explicit
    // caller options win on conflict
    val bloomOpts = bloomCols(table, df.schema)
      .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
    // TIMESTAMP columns: Spark's parquet default is legacy INT96, whose
    // stats carry no usable ordering — write annotated INT64 MICROS
    // instead (Spark's own modern encoding, what the SQL catalog's
    // writer already emits), so manifest MIN/MAX and the footer-
    // qualified per-commit row-group leaves see a sortable physical
    // form. There is no per-write option for this knob
    // (ParquetFileFormat.prepareWrite copies it from the session conf
    // unconditionally), so the override goes through [[withMicrosTs]] —
    // a depth-counted per-session guard: concurrent GRAFT writers run
    // in parallel but only the outermost set/restore touches the conf,
    // so a racer can never clobber the restore and leave the user's
    // session permanently flipped. A concurrent NON-graft writer on the
    // same session may still observe TIMESTAMP_MICROS — both encodings
    // are correct, and the row-group leaves decline INT96 commits per
    // footer, never misread.
    val hasTs = df.schema.fields.exists(
      _.dataType == org.apache.spark.sql.types.TimestampType)
    def doWrite(): Unit =
      df.write.mode("errorifexists").options(bloomOpts ++ writeOptions)
        .parquet(dataDir.toString)
    if (hasTs) withMicrosTs(df.sparkSession)(doWrite()) else doWrite()
    dirMetadata(df.sparkSession, table, dirName, statsCols, checks)
  }

  /** Per-session depth counter guarding the `outputTimestampType`
    * session-conf override: the first graft writer in saves the user's
    * value and sets MICROS, the last one out restores it. Writers stay
    * concurrent — only the conf mutation is serialized. Weak keys let
    * closed sessions age out of the map.
    */
  private val tsGuards: java.util.Map[org.apache.spark.sql.SparkSession, Array[Object]] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, Array[Object]])

  private def withMicrosTs[A](
      spark: org.apache.spark.sql.SparkSession)(f: => A): A = {
    val tsKey = "spark.sql.parquet.outputTimestampType"
    // slot 0 = depth (java.lang.Integer), slot 1 = saved value (String)
    val g = tsGuards.synchronized {
      tsGuards.computeIfAbsent(spark,
        _ => Array[Object](Integer.valueOf(0), null))
    }
    g.synchronized {
      val depth = g(0).asInstanceOf[Integer].intValue
      if (depth == 0) {
        g(1) = spark.conf.get(tsKey)
        spark.conf.set(tsKey, "TIMESTAMP_MICROS")
      }
      g(0) = Integer.valueOf(depth + 1)
    }
    try f
    finally g.synchronized {
      val depth = g(0).asInstanceOf[Integer].intValue - 1
      g(0) = Integer.valueOf(depth)
      if (depth == 0) {
        spark.conf.set(tsKey, g(1).asInstanceOf[String])
        g(1) = null
      }
    }
  }

  /** DOUBLE values as SORTABLE BITS: the standard IEEE-754 total-order
    * map (positives keep their bit pattern, negatives flip all bits but
    * the sign) — a monotone BIJECTION from double order onto signed-long
    * order in which adjacent longs are adjacent representable doubles.
    * Double zone maps record these bits under a TILDE-prefixed stats key
    * (`~col=lo..hi`), so (a) every piece of long-zone machinery — file
    * zones, commit rollups, persisted headers, runtime key probes — works
    * on doubles unchanged and EXACTLY (the ±1 open-bound adjustments
    * mean nextUp/nextDown, not integer truncation, which is why raw
    * `cast(long)` zones could never prune doubles soundly), and (b) old
    * manifests' truncated long zones under the raw name can never be
    * misread against bits-space bounds.
    */
  private[sources] def sortableBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    if (b < 0) b ^ 0x7FFFFFFFFFFFFFFFL else b
  }

  /** Inverse of [[sortableBits]] — exact, because the map is a bijection. */
  private[sources] def bitsToDouble(s: Long): Double =
    java.lang.Double.longBitsToDouble(
      if (s < 0) s ^ 0x7FFFFFFFFFFFFFFFL else s)

  /** Default cap on how many columns the per-commit stats job aggregates
    * (min/max + NDV + length stats each): a 2,000-column table must not
    * pay a 4,000-aggregate job on every small INSERT. Overridable per
    * table via the `graft.stats-max-cols` property; 64 covers every
    * realistic pruning-key set while bounding the job at wide-table
    * workloads.
    */
  private[sources] val DefaultStatsColsCap = 64

  /** Default zone-map stats set for writes that don't declare one:
    * integral columns (long min/max) PLUS date columns (epoch-day
    * min/max) PLUS string columns (truncated byte-prefix min/max,
    * Iceberg-style) — all recorded in the same single metadata job, so
    * every SQL- or stream-written file is prunable by range, date, and
    * string predicates by default. Capped at the FIRST
    * [[DefaultStatsColsCap]] eligible columns in schema order
    * (`graft.stats-max-cols` overrides per table) — pruning keys lead
    * real schemas, and an uncapped default would make every INSERT's
    * metadata job O(columns) on wide tables.
    */
  private[sources] def defaultStatsCols(
      table: String,
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType}
    // toIntOption + clamp: CREATE validates \d+ but a value past Int.Max
    // (e.g. '99999999999') must not turn every later commit into a
    // NumberFormatException — any overflow means "no effective cap"
    val cap = tableProps(table).get("graft.stats-max-cols")
      .map(v => v.toIntOption.getOrElse(Int.MaxValue))
      .getOrElse(DefaultStatsColsCap)
    // DECIMAL to precision 18 qualifies too: zones record the UNSCALED
    // value (exact in a long; the scale is fixed per column and stable
    // across the same-scale precision widening this engine accepts)
    def zoneEligible(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt == LongType || dt == IntegerType ||
        dt == DateType || dt == StringType ||
        dt == org.apache.spark.sql.types.TimestampType ||
        // DOUBLE/FLOAT zones are exact sortable-bits ([[sortableBits]] —
        // every float is exactly representable as a double), so the
        // floating family joins the default stats set like everything
        // else
        dt == org.apache.spark.sql.types.DoubleType ||
        dt == org.apache.spark.sql.types.FloatType ||
        (dt match {
          case d: org.apache.spark.sql.types.DecimalType => d.precision <= 18
          case _ => false
        })
    // STRUCT leaves join under DOTTED names ("meta.lang"): a predicate
    // on a nested metadata field prunes files exactly like a top-level
    // one. Top-level columns lead the eligibility order (they dominate
    // real pruning-key sets); leaves nest through STRUCTS only — array
    // elements and map values have no scalar-bound semantics.
    def structLeaves(prefix: String,
        dt: org.apache.spark.sql.types.DataType): Seq[String] = dt match {
      case st: org.apache.spark.sql.types.StructType =>
        st.fields.flatMap(f => structLeaves(s"$prefix.${f.name}", f.dataType)).toSeq
      case t if zoneEligible(t) && prefix.contains('.') => Seq(prefix)
      case _ => Nil
    }
    val eligible = schema.fields.filter(f => zoneEligible(f.dataType))
      .map(_.name).toSeq ++
      schema.fields.flatMap(f => structLeaves(f.name, f.dataType))
    // the declared layout keys must NEVER fall outside the cap: losing
    // the cluster/partition/bucket column's zones would silently disable
    // the pruning the layout exists for
    val keys = (clusterSpecCols(table) ++
      identitySourceCols(table) ++
      bucketSpec(table).map(_._1).toSeq).distinct.filter(eligible.contains)
    (keys ++ eligible.filterNot(keys.contains).take(
      math.max(cap - keys.size, 0))).distinct
  }

  // ---- Table properties (small, immutable-at-create key/values) ----
  //
  // Recorded once by CREATE TABLE (link-as-CAS, same discipline as the
  // bucket/cluster spec files) and consulted by the write paths:
  // `graft.bloom-cols` declares the write-side parquet bloom-filter
  // columns, `graft.stats-max-cols` bounds the commit stats job.

  private def propsFile(table: String): Path =
    manifestDir(table).resolve("props.txt")

  /** The table's declared bloom-filter columns (`graft.bloom-cols`),
    * restricted to columns `schema` actually carries. Names are
    * PHYSICAL (recorded at create, before any rename could apply).
    */
  private[sources] def bloomCols(
      table: String,
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    tableProps(table).get("graft.bloom-cols").toSeq
      .flatMap(_.split(',')).map(_.trim)
      .filter(c => c.nonEmpty && schema.fieldNames.contains(c))

  /** The ARRAY/MAP leaf type a (possibly DOTTED) member-column name
    * resolves to through `schema`'s struct spine — `meta.tags` walks
    * `meta`'s struct to its `tags` field, exactly like dotted zone
    * keys. None when the path doesn't resolve or the leaf is neither
    * ARRAY nor MAP. Array elements and map values never nest further
    * (repeated shapes have no stable dotted addressing).
    */
  private[sources] def memberLeafType(
      schema: org.apache.spark.sql.types.StructType,
      c: String): Option[org.apache.spark.sql.types.DataType] = {
    def walk(dt: org.apache.spark.sql.types.DataType,
        parts: List[String]): Option[org.apache.spark.sql.types.DataType] =
      (dt, parts) match {
        case (a: org.apache.spark.sql.types.ArrayType, Nil) => Some(a)
        case (m: org.apache.spark.sql.types.MapType, Nil)   => Some(m)
        case (st: org.apache.spark.sql.types.StructType, h :: rest) =>
          st.fields.find(_.name == h).flatMap(f => walk(f.dataType, rest))
        case _ => None
      }
    walk(schema, c.split('.').toList)
  }

  /** The table's declared MEMBERSHIP-bloom columns
    * (`graft.member-cols`): ARRAY columns (element membership) or MAP
    * columns (key membership), top-level or DOTTED struct leaves
    * (`meta.tags`), restricted to paths `schema` actually resolves.
    * Each gets a per-file element bloom in the manifest's sixth entry
    * segment, the planning-time answer to `array_contains(col, k)` /
    * `col['k'] IS NOT NULL` — set membership is what users filter
    * repeated columns by, and min/max zones can't speak it. Names are
    * PHYSICAL (recorded at create).
    */
  private[sources] def memberCols(
      table: String,
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    tableProps(table).get("graft.member-cols").toSeq
      .flatMap(_.split(',')).map(_.trim)
      .filter(c => c.nonEmpty && memberLeafType(schema, c).isDefined)

  /** Declared bloom size in bits (`graft.member-bloom-bits`, validated
    * at CREATE; default [[graft.functions.MemberBloom.DefaultBits]]).
    */
  private[sources] def memberBloomBits(table: String): Int =
    tableProps(table).get("graft.member-bloom-bits")
      .flatMap(_.toIntOption)
      .getOrElse(graft.functions.MemberBloom.DefaultBits)

  /** The table's recorded properties (empty when none were declared). */
  def tableProps(table: String): Map[String, String] = {
    val f = propsFile(table)
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.flatMap { l =>
      l.split("\t", 2) match {
        case Array(k, v) if k.nonEmpty => Some(k -> v)
        case _                         => None
      }
    }.toMap
  }

  /** Record table properties atomically-if-absent. Idempotent when the
    * recorded set already matches; a conflicting concurrent CREATE loses
    * loudly.
    */
  private[sources] def recordTableProps(
      table: String, props: Map[String, String]): Unit = {
    if (props.isEmpty) return
    createOnce(propsFile(table),
      props.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" })
    val have = tableProps(table)
    if (have != props)
      throw new java.util.ConcurrentModificationException(
        s"$table already records properties $have; cannot record $props")
  }

  // ---- String zone maps (truncated byte-prefix bounds) ----
  //
  // Spark's default (binary-collation) string comparison is UNSIGNED
  // BYTEWISE over the UTF-8 encoding, and UTF-8 bytewise order equals
  // code-point order — so per-file byte-prefix bounds prune string
  // predicates exactly like long bounds prune integral ones. Bounds are
  // truncated to [[StrZoneLen]] bytes so manifests stay small at any
  // row width: the min truncates to a prefix (a prefix is ≤ the full
  // string, still a valid lower bound) and the max truncates to the
  // prefix with its last non-0xFF byte incremented (strictly greater
  // than every string sharing the prefix — Iceberg's truncate(16)
  // upper-bound rule). A truncated bound is VALID but not exact, which
  // is all pruning needs; aggregate MIN/MAX pushdown never consumes
  // string zones for exactly that reason.

  private[sources] val StrZoneLen = 16

  /** Unsigned lexicographic byte comparison — the comparison Spark's
    * UTF8String and DuckDB's varchar both use.
    */
  private[sources] def byteCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** A byte string strictly greater than EVERY string having prefix `p`:
    * increment the last non-0xFF byte and cut there. None when `p` is
    * all 0xFF (no finite bound exists at this length — the file is then
    * simply never pruned from above).
    */
  private[sources] def incrementPrefix(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == -1) i -= 1
    if (i < 0) None
    else {
      val q = java.util.Arrays.copyOf(p, i + 1)
      q(i) = (q(i) + 1).toByte
      Some(q)
    }
  }

  /** Truncated LOWER bound: a byte prefix is ≤ the full string. */
  private[sources] def truncMin(b: Array[Byte]): Array[Byte] =
    if (b.length <= StrZoneLen) b else java.util.Arrays.copyOf(b, StrZoneLen)

  /** Truncated UPPER bound: exact when the value fits, else the
    * incremented prefix (see above); None when un-incrementable.
    */
  private[sources] def truncMax(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= StrZoneLen) Some(b)
    else incrementPrefix(java.util.Arrays.copyOf(b, StrZoneLen))

  /** The single metadata job over an already-populated commit directory:
    * per-file footer counts, zone maps, and CHECK-constraint violations —
    * shared by [[writeFiles]] and the SQL catalog's INSERT path (whose
    * files are staged by executors before the commit is assembled). A
    * violation deletes the directory and throws: nothing is committed.
    */
  private[sources] def dirMetadata(
      spark: SparkSession, table: String, dirName: String,
      statsCols: Seq[String], checks: Seq[(String, String)]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, count, expr, input_file_name, lit, max, min, not, sum, when}
    val dataDir = Paths.get(table, "data", dirName)
    // recursive: bucketed commits nest files under __graft_bucket=<b>/;
    // entries record the commit-relative path (flat layouts unchanged).
    // File BYTES ride the same walk for free — they become the exact
    // planner sizeInBytes and the $files size column.
    val sizesOf = usingPaths(Files.walk(dataDir))(_
      .filter(p => Files.isRegularFile(p))
      .map(p => dataDir.relativize(p).toString -> Files.size(p))
      .filter { case (n, _) => n.endsWith(".parquet") &&
        !n.split('/').last.startsWith(".") }
      .toMap)
    val files = sizesOf.keys.toSeq.sorted
    val suffixes: Map[String, String] =
      if (files.isEmpty) Map.empty
      else {
        val snap = spark.read.parquet(dataDir.toString)
        // stats columns may be NESTED struct leaves under dotted names
        // ("meta.lang") — `col(c)` resolves the field access natively,
        // and every downstream consumer (zone keys, rollup headers,
        // pushed-bound translation) treats the dotted name as an opaque
        // key. Type classification walks the struct spine the same way.
        def leafType(c: String)
            : Option[org.apache.spark.sql.types.DataType] = {
          def walk(dt: org.apache.spark.sql.types.DataType,
              parts: List[String])
              : Option[org.apache.spark.sql.types.DataType] =
            (dt, parts) match {
              case (t, Nil) => Some(t)
              case (st: org.apache.spark.sql.types.StructType, h :: rest) =>
                st.fields.find(_.name == h).flatMap(f => walk(f.dataType, rest))
              case _ => None
            }
          walk(snap.schema, c.split('.').toList)
        }
        // string columns get byte-prefix zones (fifth entry segment);
        // date columns record epoch-day long zones (DATE does not cast
        // to BIGINT — unix_date is the explicit day count, and it is
        // exactly what the pushed-filter bounds speak for date
        // predicates); everything else keeps the cast(long) min/max
        def isType(c: String,
            t: org.apache.spark.sql.types.DataType): Boolean =
          leafType(c).contains(t)
        // TIMESTAMP zones record epoch MICROS (`unix_micros` — cast(long)
        // would truncate to seconds, desynchronizing from the pushed
        // timestamp bounds, which speak micros)
        // DECIMAL zones record the UNSCALED value (col × 10^scale is
        // exact decimal arithmetic, integral by construction, and fits
        // a long at precision ≤ 18) — the unit pushed decimal predicates
        // convert to, and one that is STABLE across the same-scale
        // precision widening this engine accepts
        val decScale: Map[String, Int] = statsCols.flatMap { c =>
          leafType(c) match {
            case Some(d: org.apache.spark.sql.types.DecimalType)
              if d.precision <= 18 => Some(c -> d.scale)
            case _ => None
          }
        }.toMap
        val (strCols, nonStr) = statsCols.partition(
          isType(_, org.apache.spark.sql.types.StringType))
        val (dateCols, nonDate) = nonStr.partition(
          isType(_, org.apache.spark.sql.types.DateType))
        val (tsCols, nonTs) = nonDate.partition(
          isType(_, org.apache.spark.sql.types.TimestampType))
        val (decCols, nonDec) = nonTs.partition(decScale.contains)
        // DOUBLE zones aggregate as true doubles and convert to sortable
        // bits on the driver (no SQL bit-twiddling needed); the tilde key
        // firewalls them from any legacy truncated-long zone
        val (dblCols, numCols) = nonDec.partition(c =>
          isType(c, org.apache.spark.sql.types.DoubleType) ||
            isType(c, org.apache.spark.sql.types.FloatType))
        // NDV sketches ride the same job: HLL per stats column per file,
        // unioned into one per-commit sketch below (types hll_sketch_agg
        // accepts: int/long/string/binary — exactly the stats families)
        val ndvCols = statsCols.filter(c =>
          isType(c, org.apache.spark.sql.types.LongType) ||
            isType(c, org.apache.spark.sql.types.IntegerType) ||
            isType(c, org.apache.spark.sql.types.StringType) ||
            isType(c, org.apache.spark.sql.types.BinaryType))
        // declared membership-bloom columns ride the SAME per-file job:
        // ARRAY columns bloom their elements, MAP columns their keys.
        // Dotted struct-leaf declarations ("meta.tags") resolve through
        // the spine — col(c) handles the nested access natively, and a
        // null PARENT makes the leaf null, which contributes nothing
        // (exactly right: no membership predicate matches those rows)
        val mbBits = memberBloomBits(table)
        val mbCols: Seq[(String, org.apache.spark.sql.Column)] =
          memberCols(table, snap.schema).flatMap { c =>
            memberLeafType(snap.schema, c) match {
              case Some(_: org.apache.spark.sql.types.ArrayType) =>
                Some(c -> col(c))
              case Some(_: org.apache.spark.sql.types.MapType) =>
                Some(c -> org.apache.spark.sql.functions.map_keys(col(c)))
              case _ => None
            }
          }
        val aggs = (count(lit(1)).as("g_n") +: (numCols.flatMap(c => Seq(
          min(col(c)).cast("long").as(s"g_mn_$c"),
          max(col(c)).cast("long").as(s"g_mx_$c"),
          count(col(c)).as(s"g_nn_$c"))) ++
          dateCols.flatMap(c => Seq(
            min(org.apache.spark.sql.functions.unix_date(col(c)))
              .cast("long").as(s"g_mn_$c"),
            max(org.apache.spark.sql.functions.unix_date(col(c)))
              .cast("long").as(s"g_mx_$c"),
            count(col(c)).as(s"g_nn_$c"))) ++
          tsCols.flatMap(c => Seq(
            min(org.apache.spark.sql.functions.unix_micros(col(c)))
              .cast("long").as(s"g_mn_$c"),
            max(org.apache.spark.sql.functions.unix_micros(col(c)))
              .cast("long").as(s"g_mx_$c"),
            count(col(c)).as(s"g_nn_$c"))) ++
          decCols.flatMap { c =>
            val unscale = lit(java.math.BigDecimal.TEN.pow(decScale(c)))
            Seq(
              min(col(c) * unscale).cast("long").as(s"g_mn_$c"),
              max(col(c) * unscale).cast("long").as(s"g_mx_$c"),
              count(col(c)).as(s"g_nn_$c"))
          } ++
          dblCols.flatMap(c => Seq(
            // floats cast to double first — exact, and the driver-side
            // bits conversion then sees one type
            min(col(c).cast("double")).as(s"g_fmn_$c"),
            max(col(c).cast("double")).as(s"g_fmx_$c"),
            count(col(c)).as(s"g_fnn_$c"))) ++
          strCols.flatMap(c => Seq(
            min(col(c)).as(s"g_smn_$c"),
            max(col(c)).as(s"g_smx_$c"),
            // length stats feed the planner's row-width estimate
            sum(org.apache.spark.sql.functions.length(col(c)).cast("long"))
              .as(s"g_sl_$c"),
            max(org.apache.spark.sql.functions.length(col(c)))
              .cast("long").as(s"g_ml_$c"),
            count(col(c)).as(s"g_sn_$c"))) ++
          ndvCols.map(c =>
            org.apache.spark.sql.functions.hll_sketch_agg(col(c), NdvLgK)
              .as(s"g_hll_$c")) ++
          mbCols.map { case (c, arr) =>
            graft.functions.MemberBloom.memberBloomAgg(arr, mbBits)
              .as(s"g_mb_$c")
          })) ++
          checks.zipWithIndex.map { case ((_, sql), i) =>
            // NULL check results count as violations: a CHECK must be TRUE
            sum(when(not(expr(sql)) || expr(sql).isNull, 1L).otherwise(0L))
              .as(s"g_ck_$i")
          }
        val rows = snap
          .groupBy(input_file_name().as("g_f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        // constraint enforcement rides the SAME job as counts and stats:
        // any violation abandons the whole staged commit atomically
        checks.zipWithIndex.foreach { case ((name, sql), i) =>
          val viol = rows.map(r => Option(r.getAs[Any](s"g_ck_$i"))
            .fold(0L)(_.asInstanceOf[Long])).sum
          if (viol > 0) {
            deleteRecursively(dataDir)
            throw new IllegalArgumentException(
              s"commit to $table violates CHECK constraint '$name' ($sql) " +
                s"on $viol row(s) — nothing was committed")
          }
        }
        // union the per-file sketches into one per-commit sketch per
        // column and drop the .ndv.txt sidecar inside the data dir
        if (ndvCols.nonEmpty && rows.nonEmpty) {
          val enc = java.util.Base64.getEncoder.withoutPadding
          val lines = ndvCols.flatMap { c =>
            val u = new org.apache.datasketches.hll.Union(NdvLgK)
            var any = false
            rows.foreach { r =>
              Option(r.getAs[Array[Byte]](s"g_hll_$c")).foreach { b =>
                u.update(org.apache.datasketches.hll.HllSketch.heapify(b))
                any = true
              }
            }
            if (!any) None
            else {
              val b64 = enc.encodeToString(u.getResult.toCompactByteArray)
              // string columns append length stats: non-null count,
              // summed length, max length (commit-level, for avgLen)
              val lenStats =
                if (!strCols.contains(c)) ""
                else {
                  def sumL(f: String) = rows.map(r =>
                    Option(r.getAs[Any](s"${f}_$c")).fold(0L)(_.asInstanceOf[Long])).sum
                  val ml = rows.flatMap(r =>
                    Option(r.getAs[Any](s"g_ml_$c")).map(_.asInstanceOf[Long]))
                  s"\t${sumL("g_sn")}\t${sumL("g_sl")}\t${
                    if (ml.isEmpty) 0L else ml.max}"
                }
              Some(s"$c\t$b64$lenStats")
            }
          }
          if (lines.nonEmpty)
            Files.write(dataDir.resolve(".ndv.txt"), lines.asJava)
        }
        rows.map { r =>
          // per-col (zone-map text, non-null-count text) — only for
          // long-castable columns; the NN counts ride a FOURTH entry
          // segment so the zone-map rendering stays format-stable
          val statPairs = (numCols ++ dateCols ++ tsCols ++ decCols).flatMap { c =>
            val (mn, mx) = (r.getAs[Any](s"g_mn_$c"), r.getAs[Any](s"g_mx_$c"))
            (mn, mx) match {
              case (a: Long, b: Long) =>
                Some((s"$c=$a..$b", s"$c=${r.getAs[Long](s"g_nn_$c")}"))
              case _ => None
            }
          } ++ dblCols.flatMap { c =>
            // double zones under the TILDE key, values = sortable bits
            (r.getAs[Any](s"g_fmn_$c"), r.getAs[Any](s"g_fmx_$c")) match {
              case (a: java.lang.Double, b: java.lang.Double) =>
                Some((s"~$c=${sortableBits(a)}..${sortableBits(b)}",
                  s"~$c=${r.getAs[Long](s"g_fnn_$c")}"))
              case _ => None
            }
          }
          // string zones ride a FIFTH segment as unpadded base64 (the
          // alphabet is free of the '#'/';'/'..' separators); an empty
          // hi means "no finite truncated upper bound" — all-null
          // columns record nothing and are simply never pruned
          val enc = java.util.Base64.getEncoder.withoutPadding
          val strZones = strCols.flatMap { c =>
            (r.getAs[Any](s"g_smn_$c"), r.getAs[Any](s"g_smx_$c")) match {
              case (a: String, b: String) =>
                // a trailing '*' marks a TRUNCATED (valid-but-inexact)
                // bound: pruning uses every bound, MIN/MAX aggregate
                // pushdown only unstarred ones
                val aB = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                val bB = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                val loB = enc.encodeToString(truncMin(aB)) +
                  (if (aB.length > StrZoneLen) "*" else "")
                val hiB = truncMax(bB)
                  .map(x => enc.encodeToString(x) +
                    (if (bB.length > StrZoneLen) "*" else ""))
                  .getOrElse("")
                Some(s"$c=$loB..$hiB")
              case _ => None
            }
          }.mkString(";")
          val stats = statPairs.map(_._1).mkString(";")
          val nn = statPairs.map(_._2).mkString(";")
          // membership blooms ride a SIXTH segment as base64 (alphabet
          // free of the '#'/';'/'=' separators after the first '=')
          val mblooms = mbCols.flatMap { case (c, _) =>
            Option(r.getAs[Array[Byte]](s"g_mb_$c"))
              .map(b => s"$c=${enc.encodeToString(b)}")
          }.mkString(";")
          // key on the COMMIT-RELATIVE path, never the basename: one
          // task writing several bucket dirs reuses its basename, so
          // basenames collide across __graft_bucket=<b>/ subtrees
          val abs = r.getString(0)
          val marker = s"/$dirName/"
          val rel = abs.substring(abs.lastIndexOf(marker) + marker.length)
          // rows segment carries the file's BYTES after '@' (parsers
          // accept both forms; pre-bytes manifests simply report no size)
          val suffix = s"#${r.getAs[Long]("g_n")}@${sizesOf.getOrElse(rel, 0L)}" + (
            if (stats.isEmpty && strZones.isEmpty && mblooms.isEmpty) ""
            else s"#$stats#$nn" +
              (if (strZones.isEmpty && mblooms.isEmpty) "" else s"#$strZones") +
              (if (mblooms.isEmpty) "" else s"#$mblooms"))
          rel -> suffix
        }.toMap
      }
    // entries carry the commit-relative path, which may nest bucket dirs
    files.map(n => n + suffixes.getOrElse(n, s"#0@${sizesOf.getOrElse(n, 0L)}"))
  }

  // ---- Declarative CHECK constraints (Delta-style) ----
  //
  // Stored one per line as "<name>\t<boolean SQL expr>" in
  // _manifest/constraints.txt (atomically replaced on DDL; constraint
  // DDL is an administrative operation and is not protected against
  // concurrent DDL). Every caller-supplied commit that starts after the
  // DDL validates the staged files inside the commit's single metadata
  // job and is rejected ATOMICALLY on violation (staged data deleted,
  // no manifest published). Snapshot-derived rewrites (compact /
  // optimize / mergeInto results) pass through the same gate — their
  // content is re-checked at zero extra job cost.

  private def constraintsFile(table: String): Path =
    manifestDir(table).resolve("constraints.txt")

  /** The table's CHECK constraints, as (name, boolean SQL expr). */
  def constraints(table: String): Seq[(String, String)] = {
    val f = constraintsFile(table)
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f).asScala.toSeq.flatMap { l =>
      l.split("\t", 2) match {
        case Array(n, e) if n.nonEmpty => Some(n -> e)
        case _                         => None
      }
    }
  }

  /** Add a CHECK constraint. The CURRENT head (if any data exists) is
    * validated first in one aggregate job — a constraint the standing
    * table already violates is rejected, so a recorded constraint is
    * always an invariant of every subsequent snapshot, never an
    * aspiration. Commits already in flight when the DDL lands may
    * publish pre-constraint data (snapshot semantics, as in Delta);
    * every commit STARTED after the DDL is gated.
    */
  def addCheckConstraint(
      spark: SparkSession, table: String, name: String, exprSql: String): Unit = {
    import org.apache.spark.sql.functions.{expr, lit, not, sum, when}
    require(!name.contains("\t") && !name.contains("\n") && !exprSql.contains("\n"),
      "constraint name/expr must be single-line, tab-free")
    require(!constraints(table).exists(_._1 == name),
      s"constraint '$name' already exists on $table")
    if (versions(table).nonEmpty) {
      val bad = read(spark, table)
        .agg(sum(when(not(expr(exprSql)) || expr(exprSql).isNull, 1L)
          .otherwise(0L)).as("v"))
        .collect()(0).getAs[Any]("v") match {
        case null    => 0L
        case v: Long => v
      }
      require(bad == 0L,
        s"cannot add CHECK '$name' ($exprSql): the current head violates it on $bad row(s)")
    }
    replaceFile(constraintsFile(table), (constraints(table) :+ (name -> exprSql))
      .map { case (n, e) => s"$n\t$e" })
  }

  /** Drop a CHECK constraint by name (no-op if absent). */
  def dropConstraint(table: String, name: String): Unit =
    if (Files.exists(constraintsFile(table)))
      replaceFile(constraintsFile(table),
        constraints(table).filterNot(_._1 == name).map { case (n, e) => s"$n\t$e" })

  // ---- Parsed-snapshot memoization ----
  //
  // The planning walks (zone-map pruning, $files, statistics) used to
  // re-parse every entry's stats string on EVERY query — ~4µs/file/plan,
  // which is 0.4 s PER PLAN at a 100k-file snapshot (SCALING.md round 14
  // "planning latency vs manifest size"). Entry lists are immutable per
  // (table, version) — the resolvedEntries invariant — so the PARSED forms
  // memoize under the same key, bounded by the same newest-versions window
  // ([[boundCache]]) and invalidated at the same sites (dropTable, vacuum
  // expiry). Kinds: `schema` ([[snapshotSchema]]), `rawbydir`
  // ([[survivingChunks]]), `entries:<chunk>` ([[select]]), and
  // `rawdir:<chunk>` — seek-read blocks, keyed by the BASE version
  // ([[selectiveRawEntries]]).

  private val parsedSnapshots =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String), AnyRef]()

  private def memoParsed[T <: AnyRef](
      table: String, version: Option[Long], kind: String)(compute: => T): T = {
    // list the manifest directory ONLY when the caller didn't pin a
    // version — the listing is O(commits), and pinned callers (scans
    // resolve their snapshot once at build) must not pay it per memo
    val v = version.getOrElse {
      val vs = versions(table)
      require(vs.nonEmpty, s"no committed versions at $table")
      vs.last
    }
    parsedSnapshots.computeIfAbsent((table, v, kind), _ => compute)
      .asInstanceOf[T]
  }

  // ---- Per-commit NDV sketches (ANALYZE-free column statistics) ----
  //
  // The commit's single metadata job also aggregates one HLL sketch per
  // stats column per file; the driver unions them into ONE sketch per
  // column for the commit and drops `.ndv.txt` (col<TAB>base64) inside
  // the commit's data directory — a dot-file, so entry listings and
  // parquet readers never see it, it rides the dir through publish-race
  // re-seats, and vacuum reclaims it with the dir. Sketches are
  // per-commit (not per-file): metadata stays O(commits), and planning
  // unions a few hundred 1-4 KB sketches, never 800k. Estimates only —
  // never load-bearing for correctness.

  private val NdvLgK = 12
  private def ndvFile(table: String, dir: String): Path =
    Paths.get(table, "data", dir, ".ndv.txt")

  private val ndvCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Map[String, CommitColStat]]()

  /** The commit dir's per-column statistics (empty when the commit
    * predates NDV recording). Cached — commit dirs are immutable.
    */
  private[sources] def commitNdvSketches(
      table: String, dir: String): Map[String, CommitColStat] =
    ndvCache.computeIfAbsent((table, dir), { _ =>
      val f = ndvFile(table, dir)
      if (!Files.exists(f)) Map.empty
      else {
        val dec = java.util.Base64.getDecoder
        Files.readAllLines(f).asScala.flatMap { l =>
          l.split("\t", -1).toSeq match {
            case c +: b64 +: rest if c.nonEmpty =>
              try {
                val sk = dec.decode(b64)
                val len = rest match {
                  case Seq(nn, sl, ml) =>
                    for {
                      n <- nn.toLongOption; s <- sl.toLongOption
                      m <- ml.toLongOption
                    } yield (n, s, m)
                  case _ => None
                }
                Some(c -> CommitColStat(sk, len))
              } catch { case _: IllegalArgumentException => None }
            case _ => None
          }
        }.toMap
      }
    })

  /** Metadata-only row count of a snapshot: pure manifest arithmetic
    * over the per-entry footer counts recorded at commit time — no file
    * is opened, which at 100 TB is the difference between answering
    * `count(*)` from the transaction log and a full scan. Defined only
    * when every data entry carries a count and the snapshot has no
    * tombstones (a merge-on-read delete makes the physical row count an
    * overcount) — `None` in either case, and the caller falls back to
    * `read(...).count()`.
    */
  def fastCount(table: String, version: Option[Long] = None): Option[Long] = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions at $table")
    val v = version.getOrElse(vs.last)
    val entries = manifestEntries(table, v)
    if (entries.exists(isDeleteEntry)) None
    else {
      val counts = entries.map(parseEntry(_, Nil).rows)
      if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
    }
  }

  /** Atomically commit `df` as the next version. `append=true` carries
    * the previous snapshot's entries forward (pure-metadata append —
    * no existing data is read or rewritten); `append=false` makes the
    * new files the entire snapshot (logical overwrite — old files stay
    * on disk for time travel until vacuumed). Returns the new version.
    */
  def commit(df: DataFrame, table: String, append: Boolean,
      statsCols: Seq[String] = Nil,
      writeOptions: Map[String, String] = Map.empty): Long =
    commitTxn(df, table, append, txnId = None, statsCols = statsCols,
      writeOptions = writeOptions)

  /** [[commit]] stamped with a transaction id inside the same atomic
    * manifest publish — the building block for [[commitIfAbsent]].
    */
  def commitTxn(
      df: DataFrame, table: String, append: Boolean, txnId: Option[String],
      statsCols: Seq[String] = Nil,
      writeOptions: Map[String, String] = Map.empty): Long =
    commitCore(df, table, append, txnId, expectedLatest = None, statsCols,
      writeOptions)
      .fold(identity, identity)

  /** The optimistic-concurrency commit loop. Data files are written
    * once to a writer-unique directory; the version number is then won
    * by [[tryPublish]]'s create-new link. On losing the race:
    *   - `expectedLatest = Some(v)` (snapshot-derived commits): the
    *     basis this commit was computed from is no longer the head —
    *     clean up the orphaned data directory and throw
    *     `ConcurrentModificationException`;
    *   - otherwise: re-seat the data directory onto the next free
    *     version (a cheap dir rename — entries embed the commit number
    *     for tombstone scoping), re-read the carried snapshot from the
    *     NEW head (an append must carry the winner's rows, not the
    *     stale ones), re-check the txn id (two replayed writers sharing
    *     one txn id must not double-apply), and retry.
    *
    * Returns Right(new version), or Left(existing version) when `txnId`
    * was found already committed.
    */
  private def commitCore(
      df: DataFrame, table: String, append: Boolean,
      txnId: Option[String], expectedLatest: Option[Long],
      statsCols: Seq[String] = Nil,
      writeOptions: Map[String, String] = Map.empty): Either[Long, Long] = {
    // a flat commit onto a bucketed table would break the co-location
    // invariant storage-partitioned joins rely on — refuse loudly (this
    // also covers compact/optimize/mergeInto, which route through here)
    bucketSpec(table).foreach { case (c, n) =>
      throw new UnsupportedOperationException(
        s"$table is bucketed by ($c, $n): write through commitBucketed " +
          "with the same spec (merge-on-read deletes compose; flat " +
          "rewrites would destroy the bucket layout)")
    }
    txnId.flatMap(txnVersion(table, _)).foreach(v => return Left(v))
    val token = java.util.UUID.randomUUID().toString.take(8)
    val next = expectedLatest.getOrElse(versions(table).lastOption.getOrElse(0L)) + 1L
    val dirName = s"c${next}_$token"
    // files are always written under PHYSICAL names (no-op for unmapped
    // tables and for frames that are already physical)
    val fileEntries = writeFiles(physicalizeFrame(table, df), table, dirName,
      statsCols.map(physName(table, _)), constraints(table), writeOptions)
    publishStaged(table, token, next, dirName, fileEntries, append, txnId, expectedLatest)
  }

  /** The one publish of an ALREADY-STAGED commit directory
    * (`data/<dirName0>` with `fileEntries` as its manifest suffixes) —
    * every commit goes through here: [[commitCore]], the schema carrier,
    * the bucketed writer, the merge-on-read and copy-on-write deletes,
    * [[optimizeWhere]], and the SQL catalog's INSERT and row-level
    * writes, whose data files are written by executors before the commit
    * is assembled. The staged files publish as data entries, or as
    * `D:<basis>:` tombstones bounded to the basis when `tombstones` is set;
    * `removed` (manifest paths) publish as `R:` lines dropping those
    * files from the carried snapshot.
    *
    * `expectedLatest = None` retries a lost version race on the next free
    * version. A commit derived from `expectedLatest` instead deletes its
    * staged directory on losing and throws
    * `ConcurrentModificationException` naming `op` and the table.
    */
  private[sources] def publishStaged(
      table: String, token: String, next0: Long, dirName0: String,
      fileEntries: Seq[String], append: Boolean,
      txnId: Option[String], expectedLatest: Option[Long],
      removed: Seq[String] = Nil, tombstones: Boolean = false,
      op: String = "commit"): Either[Long, Long] = {
    require(!tombstones || expectedLatest.isDefined,
      "tombstones are bounded to the basis they were computed from")
    var next = next0
    var dirName = dirName0
    var cachedStats: Option[(String, Seq[String])] = None
    def abandon(): Unit = deleteRecursively(Paths.get(table, "data", dirName))
    while (true) {
      val latest = expectedLatest.orElse(versions(table).lastOption)
      // the txn check must SEE every commit up to `latest` before we
      // claim latest+1: a same-txn racer that committed while our data
      // files were being written would otherwise be double-applied at a
      // later version number (the entry check alone cannot catch it).
      // If that racer instead commits AFTER this check, it necessarily
      // holds version latest+1 and our publish below loses the link
      // race, looping back here to find its txn.
      txnId.flatMap(txnVersion(table, _)).foreach { v => abandon(); return Left(v) }
      val target = latest.getOrElse(0L) + 1L
      if (target != next) {
        val newDir = s"c${target}_$token"
        Files.move(Paths.get(table, "data", dirName), Paths.get(table, "data", newDir))
        dirName = newDir
        next = target
      }
      // append = a carry POINTER to the previous head, never a rewrite
      // of its (table-sized) entry list: append metadata is O(fresh)
      val carry = if (append) latest else None
      val fresh = fileEntries.map(n =>
        (if (tombstones) s"D:${latest.get}:" else "") + s"data/$dirName/$n")
      // stats header: compute once, then RETAG the directory name on
      // retries (a lost race renames the commit dir, but the per-file
      // stats and the footer schema are unchanged) — no repeated
      // O(entries) parse or footer open per CAS attempt
      val statHeader = cachedStats match {
        case Some((d, lines)) if d == dirName => lines
        case Some((d, lines)) =>
          val retagged = lines.map { l =>
            if (l.startsWith(s"rollup=$d "))
              s"rollup=$dirName " + l.stripPrefix(s"rollup=$d ")
            else if (l.startsWith(s"schema=$d "))
              s"schema=$dirName " + l.stripPrefix(s"schema=$d ")
            else l
          }
          cachedStats = Some((dirName, retagged)); retagged
        case None =>
          val lines = rollupLines(fresh) ++ schemaLines(table, fresh)
          cachedStats = Some((dirName, lines)); lines
      }
      if (tryPublish(table, next, removed.map(p => s"R:$p") ++ fresh, txnId, carry,
          statHeader = Some(statHeader))) return Right(next)
      expectedLatest.foreach { basis =>
        abandon()
        throw new java.util.ConcurrentModificationException(
          s"$op on $table was computed from version $basis but version $next " +
            "was committed concurrently — re-run against the new head")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // per-commit-directory footer schema memo: a commit directory's files
  // are immutable once published and share one schema, so (table, dir)
  // → schema never changes. Evicted with the directory (vacuum) or the
  // table (dropTable); size is O(live commit dirs), i.e. versions-scale.
  private val commitSchemas = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  /** Force every level nullable, the way Spark's own parquet reads do
    * ("all columns are automatically converted to be nullable for
    * compatibility") — both the write-time persisted schema hints and
    * the read-time footer fallback normalize through here, so schema
    * comparisons never depend on which path produced the schema.
    */
  private def forceNullable(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = forceNullable(f.dataType), nullable = true)))
      case at: ArrayType =>
        at.copy(elementType = forceNullable(at.elementType), containsNull = true)
      case mt: MapType => mt.copy(
        keyType = forceNullable(mt.keyType),
        valueType = forceNullable(mt.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** One representative footer → Spark schema, through Spark's own
    * parquet converter: byte-identical to `spark.read.parquet(file)
    * .schema` (same SQLConf flags, same force-nullable convention) at
    * ~2 ms instead of the ~45 ms a DataFrame resolution costs — the
    * difference between a 482 s and a seconds-scale COLD plan on a
    * 10k-commit ingest table (SCALING.md round 16 "persisted planning
    * headers"), because snapshot schema resolution reads one footer per
    * commit directory.
    */
  private def footerSchema(file: Path): org.apache.spark.sql.types.StructType = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString),
        new org.apache.hadoop.conf.Configuration()))
    val msg = try rd.getFooter.getFileMetaData.getSchema finally rd.close()
    val st = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(org.apache.spark.sql.internal.SQLConf.get)
      .convert(msg)
    forceNullable(st).asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** The (cached) Spark schema of the commit directory holding manifest
    * entry `relPath` — ONE footer read per directory per JVM, which is
    * what keeps the SQL catalog's per-query planning free of repeated
    * footer I/O.
    */
  private[sources] def commitSchemaOf(
      spark: SparkSession, table: String, relPath: String)
      : org.apache.spark.sql.types.StructType =
    commitSchemas.computeIfAbsent((table, relPath.split('/')(1)),
      _ => footerSchema(Paths.get(table, relPath)))

  /** [[commitSchemaOf]] preferring the snapshot's persisted `schema=`
    * manifest hint — zero footer I/O for post-upgrade commits; one
    * cached footer read for the rest. Every per-commit planning check
    * (vectorization gates, row-group filter typing) goes through here so
    * a cold selective plan opens no files at all on hinted tables.
    */
  private[sources] def commitSchemaHinted(
      spark: SparkSession, table: String, version: Option[Long],
      relPath: String): org.apache.spark.sql.types.StructType =
    persistedSchemas(table, version).getOrElse(relPath.split('/')(1),
      commitSchemaOf(spark, table, relPath))

  /** Snapshot schema in O(commit directories) footer reads, not
    * O(files): every file of a commit directory is written from one
    * frame with one schema, so merging ONE representative footer per
    * directory yields the same column-set union `mergeSchema = true`
    * computes over every footer. Field order is first-commit-first
    * (later commits append their new columns); a same-name type
    * conflict fails loudly rather than guessing. This is what the SQL
    * catalog serves as the table schema — ADD COLUMN appends an empty
    * schema-carrying file ([[commitSchemaOnly]]), which this union picks
    * up while old snapshots keep their narrower schema.
    */
  /** Lossless TYPE WIDENING across commits: the only cross-commit type
    * drift the schema union accepts. INT widens to BIGINT and FLOAT to
    * DOUBLE — both value-preserving, both supported natively by Spark
    * 4's parquet readers (an INT32 file decodes into a BIGINT column),
    * so old files are never rewritten. Anything else conflicts loudly.
    */
  private def widenType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.{
      DecimalType, DoubleType, FloatType, IntegerType, LongType}
    (a, b) match {
      case (x, y) if x == y                                   => Some(x)
      case (IntegerType, LongType) | (LongType, IntegerType)  => Some(LongType)
      case (FloatType, DoubleType) | (DoubleType, FloatType)  => Some(DoubleType)
      // DECIMAL(p, s) → DECIMAL(p+k, s): lossless — same scale, more
      // headroom. Scale changes would rewrite values, so they refuse.
      case (x: DecimalType, y: DecimalType) if x.scale == y.scale =>
        Some(DecimalType(math.max(x.precision, y.precision), x.scale))
      // NESTED evolution: struct field-set union at any depth (the
      // nested ADD COLUMN carrier) — leaf types inside nested must
      // match exactly, field ADDITION is the only accepted drift
      case (x: org.apache.spark.sql.types.StructType,
            y: org.apache.spark.sql.types.StructType) => mergeNestedType(x, y)
      case (x: org.apache.spark.sql.types.ArrayType,
            y: org.apache.spark.sql.types.ArrayType) => mergeNestedType(x, y)
      case (x: org.apache.spark.sql.types.MapType,
            y: org.apache.spark.sql.types.MapType)   => mergeNestedType(x, y)
      case _                                                  => None
    }
  }

  /** Nested type union: equal, or — for structs at any depth — the
    * FIELD-SET union (shared fields recurse, either side's new fields
    * append, a-side order first). Unlike top-level [[widenType]], leaf
    * types inside nested containers must match EXACTLY: the decoders
    * null-fill absent struct fields but do not up-cast nested leaves,
    * so numeric widening below the top level is refused loudly.
    */
  private def mergeNestedType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    (a, b) match {
      case (x, y) if x == y => Some(x)
      case (x: StructType, y: StructType) =>
        val byName = y.fields.map(f => f.name -> f).toMap
        val merged = x.fields.map { f =>
          byName.get(f.name) match {
            case None => Some(f)
            case Some(g) => mergeNestedType(f.dataType, g.dataType).map(t =>
              f.copy(dataType = t, nullable = f.nullable || g.nullable))
          }
        }
        if (merged.exists(_.isEmpty)) None
        else {
          val xNames = x.fieldNames.toSet
          Some(StructType(merged.flatten ++
            y.fields.filterNot(f => xNames.contains(f.name))))
        }
      case (x: ArrayType, y: ArrayType) =>
        mergeNestedType(x.elementType, y.elementType)
          .map(ArrayType(_, x.containsNull || y.containsNull))
      case (x: MapType, y: MapType) =>
        for {
          k <- mergeNestedType(x.keyType, y.keyType)
          v <- mergeNestedType(x.valueType, y.valueType)
        } yield MapType(k, v, x.valueContainsNull || y.valueContainsNull)
      case _ => None
    }
  }

  /** Union two commit footer schemas: later columns append, shared
    * columns must match or widen ([[widenType]]).
    */
  private def unionSchemas(
      table: String,
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val bByName = b.fields.map(f => f.name -> f).toMap
    val merged = a.fields.map { f =>
      bByName.get(f.name).fold(f) { g =>
        f.copy(dataType = widenType(f.dataType, g.dataType).getOrElse(
          throw new IllegalArgumentException(
            s"schema evolution conflict in $table: column ${f.name} is " +
              s"${f.dataType} in one commit and ${g.dataType} in another " +
              "(only INT->BIGINT and FLOAT->DOUBLE widen)")))
      }
    }
    val aNames = a.fieldNames.toSet
    StructType(merged ++ b.fields.filterNot(f => aNames.contains(f.name)))
  }

  /** Data-commit DIRECTORIES along the carry chain, from headers plus
    * the O(fresh) carry bodies — never the base's O(files) entry
    * section: the base's dirs come from its `index=` lines, each carry
    * manifest contributes its own fresh data dirs. The result is a
    * SUPERSET of the live dirs (chain removals are ignored), which is
    * exactly what schema union needs — every removal path (COW
    * delete/update rewrites) publishes its replacement files with the
    * FULL snapshot schema in the same manifest, so a removed dir's
    * schema is always ⊆ the union of the dirs kept here; and schema
    * CARRIERS (zero-row files) are never COW-removed (no row matches),
    * so added columns can't vanish from the superset either. None for
    * index-less legacy bases — callers walk the entries.
    */
  private[sources] def chainDataDirs(
      table: String, version: Option[Long]): Option[Seq[String]] = {
    val head = version.getOrElse {
      val vs = versions(table)
      if (vs.isEmpty) return None
      vs.last
    }
    // incremental chain fold (see persistedHeaders): dirs(v) is
    // dirs(carry) plus v's own fresh dirs, memoized per version as an
    // ordered (Vector, membership Set) pair with structural sharing —
    // the schema fast path then costs O(fresh) per append instead of
    // re-walking the chain. The only consumer sorts by commit number,
    // so base-up order is as good as the old head-down order.
    type Dirs = (Vector[String], Set[String])
    var stack = List.empty[Long] // ascending after the prepends
    var v: Option[Long] = Some(head)
    var acc: Dirs = null
    while (v.isDefined && acc == null) {
      val hit = chainFoldCache.get((table, v.get, "chaindirs"))
      if (hit != null) acc = hit.asInstanceOf[Dirs]
      else {
        val hdr = manifestHeaderBytes(table, v.get)._1
        if (hdr.exists(_.startsWith("carry="))) {
          stack = v.get :: stack
          v = carryOf(table, v.get)
        } else {
          val idx = hdr.filter(_.startsWith("index="))
          if (idx.isEmpty) return None // index-less legacy base
          var ds = Vector.empty[String]
          var seen = Set.empty[String]
          idx.foreach { l =>
            val dir = l.stripPrefix("index=").takeWhile(_ != ' ')
              .takeWhile(_ != '%')
            if (dir != "!del" && !seen.contains(dir)) {
              ds :+= dir; seen += dir
            }
          }
          acc = (ds, seen)
          chainFoldCache.put((table, v.get, "chaindirs"), acc)
        }
      }
    }
    if (acc == null) return None
    stack.foreach { w =>
      var (ds, seen) = acc
      ownEntriesOf(table, w)
        .filterNot(e => isDeleteEntry(e) || isRemoveEntry(e))
        .foreach { e =>
          val dir = entryPath(e).split('/')(1)
          if (!seen.contains(dir)) { ds :+= dir; seen += dir }
        }
      acc = (ds, seen)
      chainFoldCache.put((table, w, "chaindirs"), acc)
    }
    Some(acc._1)
  }

  private[sources] def snapshotSchema(
      spark: SparkSession, table: String, version: Option[Long])
      : org.apache.spark.sql.types.StructType = {
    // memoized under (table, version) immutability like the layout: the
    // catalog resolves the table schema on EVERY query, and recomputing
    // pays an O(files) group-by plus one schema union per commit — at
    // 1M files / 10k commits that alone was ~0.8 s per plan (footer
    // READS were already once-per-commit via commitSchemas)
    {
      // persisted `schema=` hints first (O(commits) header lines, zero
      // footer I/O — the cold-plan path); footer read only for commits
      // without one (pre-upgrade manifests). Forced OUTSIDE the memo
      // below — a nested computeIfAbsent on the shared parsedSnapshots
      // map throws "Recursive update" (the manifestHeaderBytes lesson)
      val hints = persistedSchemas(table, version)
      memoParsed(table, version, "schema") {
        // HEADER fast path: when every chain data dir carries a schema
        // hint, the union resolves with ZERO entry-section bytes — the
        // first plan of a 1M-file table must not stream the manifest's
        // O(files) entries just to enumerate its commits (profiled at
        // ~2.9 s of a 4.8 s cold plan on a 1M-file member table).
        // Commit order matches the entry walk's sortBy(dataCommitOf),
        // so the unioned field ORDER is identical.
        val fast = chainDataDirs(table, version) match {
          case Some(dirs) if dirs.nonEmpty && dirs.forall(hints.contains) &&
              snapshotFileCountFast(table, version).exists(_ > 0) =>
            val byCommit = dirs.map(d =>
              d.stripPrefix("c").takeWhile(_.isDigit).toLongOption -> d)
            if (byCommit.exists(_._1.isEmpty)) None
            else Some(byCommit.sortBy(_._1.get).map(t => hints(t._2))
              .reduce(unionSchemas(table, _, _)))
          case _ => None
        }
        fast.getOrElse {
          val dataE = pinnedEntries(table, version).filterNot(isDeleteEntry).map(entryPath)
          require(dataE.nonEmpty, s"no data files in the snapshot of $table")
          val reps = dataE.groupBy(dataCommitOf).toSeq.sortBy(_._1).map(_._2.min)
          reps.map(p => hints.getOrElse(p.split('/')(1),
              commitSchemaOf(spark, table, p)))
            .reduce(unionSchemas(table, _, _))
        }
      }
    }
  }

  /** Publish a commit whose single data file is an EMPTY parquet carrying
    * `schema` — the SQL DDL primitive: CREATE TABLE commits schema-only
    * version 1 (tables ARE manifest directories, created by their first
    * commit), and ALTER TABLE ADD COLUMN appends a schema-only version
    * whose widened footer rides the [[snapshotSchema]] union while every
    * existing file (and pinned snapshot) stays untouched. Zero rows, one
    * footer, O(1) metadata — schema changes never rewrite data.
    */
  /** TYPE-WIDENING schema evolution: widen `column` to `to` (INT →
    * BIGINT or FLOAT → DOUBLE — the lossless pairs [[widenType]]
    * accepts) by appending a schema-only carrier commit whose footer
    * carries the wide type. NO data file is rewritten: the snapshot
    * schema union resolves to the wide type, old INT32/FLOAT files
    * decode losslessly through every read path (Spark's parquet readers
    * support the promotion natively, and the catalog's vectorized
    * reader declares the wide type so they promote inside the batch
    * load), and pinned pre-widening
    * snapshots keep their narrow schema. SQL surface:
    * `ALTER TABLE t ALTER COLUMN c TYPE BIGINT`.
    */
  def widenColumn(
      spark: SparkSession, table: String, column: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types.StructType
    val pc = physName(table, column)
    val cur = snapshotSchema(spark, table, None)
    val f = cur.fields.find(_.name == pc).getOrElse(
      throw new IllegalArgumentException(
        s"cannot widen $column: not a column of $table"))
    require(f.dataType != to && widenType(f.dataType, to).contains(to),
      s"cannot widen $column from ${f.dataType} to $to — only INT->BIGINT, " +
        "FLOAT->DOUBLE, and same-scale DECIMAL precision increases are " +
        "lossless (narrowing/rewriting is refused)")
    commitSchemaOnly(table,
      StructType(cur.fields.map(g =>
        if (g.name == pc) g.copy(dataType = to) else g)),
      append = true)
  }

  /** NESTED additive evolution: append a nullable `field` to the struct
    * at `path` (a top-level struct column, or a struct any levels deeper
    * through structs / array elements / map values) by a schema-only
    * carrier commit — the nested twin of ADD COLUMN. No data file is
    * rewritten: the snapshot-schema union merges struct field sets
    * ([[mergeNestedType]]), old files read the new field as NULL (the
    * decoders null-fill absent struct fields), and pinned pre-evolution
    * snapshots keep the narrower struct. SQL surface:
    * `ALTER TABLE t ADD COLUMN parent.child TYPE`.
    */
  def addNestedColumn(
      spark: SparkSession, table: String, path: Seq[String],
      field: org.apache.spark.sql.types.StructField): Long = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    require(path.nonEmpty, "nested ADD COLUMN needs a parent path")
    require(field.nullable,
      s"ADD COLUMN ${(path :+ field.name).mkString(".")}: new nested " +
        "fields must be nullable — existing rows carry no value for them")
    // descend to the parent struct and rebuild the spine with the field
    // appended; arrays-of-struct and map values evolve through their
    // element/value types
    def addAt(dt: org.apache.spark.sql.types.DataType, rest: Seq[String])
        : org.apache.spark.sql.types.DataType = dt match {
      case st: StructType if rest.isEmpty =>
        require(!st.fieldNames.contains(field.name),
          s"field ${field.name} already exists in struct " +
            s"${path.mkString(".")} of $table")
        StructType(st.fields :+ field.copy(nullable = true))
      case st: StructType =>
        val i = st.fieldNames.indexOf(rest.head)
        require(i >= 0,
          s"no field ${rest.head} under ${path.mkString(".")} in $table")
        StructType(st.fields.updated(i,
          st.fields(i).copy(dataType = addAt(st.fields(i).dataType, rest.tail))))
      case at: ArrayType =>
        at.copy(elementType = addAt(at.elementType, rest))
      case mt: MapType =>
        mt.copy(valueType = addAt(mt.valueType, rest))
      case other => throw new IllegalArgumentException(
        s"cannot evolve ${path.mkString(".")} in $table: $other is not a " +
          "struct (nested ADD COLUMN descends structs, array elements, " +
          "and map values only)")
    }
    val pc = physName(table, path.head)
    val cur = snapshotSchema(spark, table, None)
    val i = cur.fieldNames.indexOf(pc)
    require(i >= 0, s"cannot evolve ${path.head}: not a column of $table")
    val evolved = StructType(cur.fields.updated(i,
      cur.fields(i).copy(dataType = addAt(cur.fields(i).dataType, path.tail))))
    commitSchemaOnly(table, evolved, append = true)
  }

  private[sources] def commitSchemaOnly(
      table: String, schema: org.apache.spark.sql.types.StructType,
      append: Boolean): Long = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val next = versions(table).lastOption.getOrElse(0L) + 1L
    val dirName = s"c${next}_$token"
    // on a bucketed table the carrier must live inside a bucket subtree —
    // [[bucketLayout]] (rightly) refuses flat files on bucketed tables
    val fileName = bucketSpec(table)
      .fold("part-schema-0.parquet")(_ => "__graft_bucket=0/part-schema-0.parquet")
    val dir = Paths.get(table, "data", dirName)
    Files.createDirectories(dir.resolve(fileName).getParent)
    new GraftDataWriter(dir.resolve(fileName).toString, schema).commit()
    publishStaged(table, token, next, dirName, Seq(s"$fileName#0"),
      append, txnId = None, expectedLatest = None).fold(identity, identity)
  }

  /** Idempotent commit: if a version carrying `txnId` already exists,
    * do nothing and return None; else commit and return the version.
    * Because the txn id rides inside the atomically-published manifest,
    * a crashed-and-replayed writer can never double-apply — this is the
    * exactly-once contract a streaming foreachBatch sink keys on its
    * batchId (see `CdcStreamsSpec`'s ingest tests).
    */
  def commitIfAbsent(
      df: DataFrame, table: String, append: Boolean, txnId: String): Option[Long] =
    commitCore(df, table, append, Some(txnId), expectedLatest = None) match {
      case Left(_)  => None // this txn already committed (possibly by a racer)
      case Right(v) => Some(v)
    }

  /** Quality-gated idempotent commit: run the caller's expectation
    * check over the batch first; a failing batch is NOT committed and
    * the failure reason is returned, so a streaming foreachBatch sink
    * composes exactly-once ingest with a data-quality gate — bad
    * batches are quarantined (the caller decides where), never
    * poisoning the standing table. The check runs BEFORE any file is
    * written, so a rejected batch leaves no orphan data either.
    */
  def commitIfAbsentGated(
      df: DataFrame, table: String, append: Boolean, txnId: String)(
      check: DataFrame => Either[String, Unit]): Either[String, Option[Long]] =
    check(df) match {
      case Left(reason) => Left(reason)
      case Right(())    => Right(commitIfAbsent(df, table, append, txnId))
    }

  /** Largest doomed-key count a merge-on-read delete may commit. Every
    * reader of a tombstoned file materializes the applicable doomed keys
    * (8 bytes/key primitive-specialized — see the catalog's
    * `LongDoomedKeys`) per task until compaction; 10M keys ≈ 80 MB is
    * the honest ceiling for "small by construction". [[deleteWhere]]
    * rejects a `maxKeys` above it; a delete over its `maxKeys` routes to
    * the positional form, whose reader memory is a per-file bitmap.
    */
  val MorMaxDeleteKeys: Long = 10L * 1000 * 1000

  /** Default [[deleteWhere]] routing threshold — a COST crossover, not a
    * memory bound. SCALING.md round 16 "the equality→positional cost
    * crossover" (sf0.1, 9.6M rows, 5-iter medians) measured the STANDING
    * per-scan read tax of equality tombstones vs positional vectors on
    * identical data and identical deletes:
    *
    *   doomed keys   equality tax   positional tax   extra commit cost
    *       11,760        1.26×           0.94×            +0.26 s
    *      117,632        1.14×           0.97×            +1.09 s
    *    1,177,248        3.10×           0.96×            +0.32 s
    *
    * The positional vector reads at parity at EVERY scale (a bitmap
    * probe is one shift+mask per row) while the equality tax is paid on
    * every scan until compaction and grows with the key count — so any
    * delete expected to be read more than a handful of times amortizes
    * the slightly slower positional commit almost immediately. Equality
    * keeps two advantages below the threshold: the cheaper commit (no
    * full-scan position job) and row-group pruning on referenced files
    * (a positional vector forces full-file streaming so the running
    * ordinal stays exact). 100k keys is where the standing tax stops
    * being noise-level; callers needing equality semantics at larger
    * scales pass `maxKeys` explicitly (ceiling [[MorMaxDeleteKeys]]).
    */
  val MorEqualityMaxKeys: Long = 100L * 1000

  /** Merge-on-read delete: write the doomed KEYS as a tombstone file and
    * commit a manifest referencing it — no data file is rewritten. The
    * tombstone is bounded to the data commits existing NOW, so rows for
    * the same key appended by a LATER commit are visible again (delete
    * means "delete the rows present at delete time", not "ban the key").
    * Returns the new version.
    *
    * SIZE-GATED: a delete matching more than `maxKeys` distinct keys
    * (default [[MorEqualityMaxKeys]], the measured COST crossover; the
    * absolute reader-memory ceiling for explicit callers is
    * [[MorMaxDeleteKeys]], and a larger `maxKeys` is rejected before
    * anything is staged) is NOT committed as a KEY tombstone —
    * above the crossover every scan until compaction pays a growing
    * per-row key-probe tax (1.14× at ~118k keys, 3.1× at ~1.2M — SCALING.md
    * round 16), and above the ceiling every reader task would carry the whole
    * key set in memory. Such a delete routes to
    * [[deleteWherePositional]]:
    * still additive (incremental/streaming consumers see an ordinary
    * delete commit), reader memory bounded by a per-file position BITMAP
    * (~rows/8 bytes) regardless of how many rows died, and the bucket/
    * cluster layout untouched — strictly better than a copy-on-write
    * reroute (non-additive, layout-destroying) or a refusal. The doomed
    * count is read from the freshly-staged tombstone's own footer
    * counts, so the gate costs no extra job.
    */
  def deleteWhere(
      spark: SparkSession, table: String, predicate: Column, keyCol: String,
      maxKeys: Long = MorEqualityMaxKeys): Long = {
    require(maxKeys > 0, "maxKeys must be positive")
    require(maxKeys <= MorMaxDeleteKeys,
      s"maxKeys $maxKeys exceeds the tombstone reader-memory ceiling $MorMaxDeleteKeys")
    val prev = versions(table)
    require(prev.nonEmpty, s"no committed versions at $table")
    val lastV = prev.last
    val next = lastV + 1L
    // predicate and keyCol are LOGICAL; the tombstone file must carry the
    // PHYSICAL key name so the read-time anti-join matches the data files
    val doomed = physicalizeFrame(table,
      read(spark, table, Some(lastV)).filter(predicate).select(keyCol).distinct())
    val token = java.util.UUID.randomUUID().toString.take(8)
    val dirName = s"c${next}_$token"
    val fileEntries = writeFiles(doomed, table, dirName)
    // entries are "<rel>#<rows>[@<bytes>][#...]" — the staged footer counts
    val doomedCount = fileEntries
      .map(_.split('#')(1).takeWhile(_ != '@').toLong).sum
    if (doomedCount > maxKeys) {
      deleteRecursively(Paths.get(table, "data", dirName))
      return deleteWherePositional(spark, table, predicate)
    }
    // the doomed-key set was computed FROM snapshot lastV — if another
    // writer took version `next`, applying this tombstone over their
    // head could delete rows they just (re-)inserted; fail loudly
    // instead of retrying (the caller re-runs against the new head)
    publishStaged(table, token, next, dirName, fileEntries, append = true,
      txnId = None, expectedLatest = Some(lastV), tombstones = true,
      op = "deleteWhere").fold(identity, identity)
  }

  /** POSITIONAL merge-on-read delete: instead of doomed KEYS, commit a
    * DELETION VECTOR — the exact (file, row-position) pairs `predicate`
    * matches in the current snapshot, stored as a parquet file of
    * `_file`/`_pos` pairs under an ordinary bounded tombstone entry whose
    * file name (`posdel-*`) marks the kind. Readers skip positions during
    * the batch copy instead of probing every row's key against a set, so:
    *  - reader memory is bounded by FILE SIZE (a bitmap of row ordinals,
    *    ~rows/8 bytes per referenced file), not by how many rows were
    *    deleted — there is no key-count gate;
    *  - any predicate works (no key column needed, any key type);
    *  - BUCKETED / clustered tables keep their layout (nothing is
    *    rewritten), which copy-on-write cannot offer.
    * Snapshot-derived like [[deleteWhere]]: positions are computed from
    * the head (fully distributed — the data-file scan tags each row with
    * its file and row ordinal), a
    * concurrent commit fails the publish loudly, and a later append is
    * unaffected (its files are not referenced by the vector). Returns
    * the new version — the basis version unchanged when nothing matches.
    */
  def deleteWherePositional(
      spark: SparkSession, table: String, predicate: Column): Long = {
    import org.apache.spark.sql.functions.col
    val prev = versions(table)
    require(prev.nonEmpty, s"no committed versions at $table")
    val lastV = prev.last
    val next = lastV + 1L
    val dataE = manifestEntries(table, lastV).filterNot(isDeleteEntry).map(entryPath)
    if (dataE.isEmpty) return lastV
    // ONE tagged scan over the snapshot's data files; the predicate
    // pushes into it. Rows already doomed by an EARLIER tombstone may
    // re-match here — re-dooming a dead position is harmless and avoids
    // paying the standing anti-joins inside the delete itself.
    val dv = logicalizeFrame(table, scan(spark, table, dataE, tagged = true))
      .filter(predicate).select(col(DvFile).as("_file"), col(DvPos).as("_pos"))
    val token = java.util.UUID.randomUUID().toString.take(8)
    val dirName = s"c${next}_$token"
    val dataDir = Paths.get(table, "data", dirName)
    // sorted runs per file: the reader's bitmap build walks positions in
    // order and parquet RLE-encodes them tightly
    dv.sortWithinPartitions("_file", "_pos")
      .write.mode("errorifexists").parquet(dataDir.toString)
    // the file name is the KIND MARKER — rename before metadata records it
    usingPaths(Files.list(dataDir))(_.toSeq).foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("part-") && n.endsWith(".parquet")) {
        Files.move(p, p.resolveSibling(s"posdel-$n")); ()
      }
    }
    val fileEntries = dirMetadata(spark, table, dirName, Nil, Nil)
    val doomedRows = fileEntries
      .map(_.split('#')(1).takeWhile(_ != '@').toLong).sum
    if (doomedRows == 0L) { deleteRecursively(dataDir); return lastV }
    publishStaged(table, token, next, dirName, fileEntries, append = true,
      txnId = None, expectedLatest = Some(lastV), tombstones = true,
      op = "deleteWherePositional").fold(identity, identity)
  }

  /** Copy-on-write DELETE: remove the rows matching `predicate` by
    * rewriting ONLY the files that contain at least one matching row,
    * recording a REPLACE commit — `R:` lines drop the touched files from
    * the carried snapshot, fresh entries add their rewrites, and every
    * untouched file rides the carry pointer. At 100 TB a selective
    * DELETE rewrites a handful of files and its manifest is O(touched),
    * never a table rewrite. Contrast [[deleteWhere]] (merge-on-read:
    * zero rewrite at delete time, an anti-join at every read until
    * compaction) — this is the Delta-style COW alternative that keeps
    * the read path a pure scan, and it is what the SQL catalog's
    * `DELETE FROM` executes.
    *
    * `bounds` pre-prunes candidates from the manifest zone maps and MUST
    * be implied by the predicate (every matching row lies within them) —
    * the SQL path guarantees that by deriving both from the same pushed
    * filters. A touched-file probe then narrows the rewrite to files
    * that actually contain matches: one distinct job over the candidates
    * (column-pruned to the predicate's inputs) whose surviving matches
    * carry their file tag from the data-file scan, so a touched file is
    * a set lookup on its manifest path. Rows whose predicate evaluates
    * NULL are KEPT (SQL DELETE semantics). Published through
    * [[publishStaged]] as `R:` lines plus the rewrites; snapshot-derived,
    * so losing the publish race deletes the staged rewrite and throws
    * `ConcurrentModificationException`. Returns the new version, or the
    * basis version unchanged when nothing matches.
    */
  def deleteWhereCow(
      spark: SparkSession, table: String, predicate: Column,
      bounds: Seq[(String, Long, Long)] = Nil,
      statsCols: Seq[String] = Nil,
      strBounds: Seq[(String, Option[Array[Byte]], Option[Array[Byte]])] = Nil)
      : Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    bucketSpec(table).foreach { case (c, n) =>
      throw new UnsupportedOperationException(
        s"$table is bucketed by ($c, $n): copy-on-write rewrites would " +
          "destroy the bucket layout — use deleteWhere (merge-on-read)")
    }
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions at $table")
    val basis = vs.last
    val entries = manifestEntries(table, basis)
    val delE = entries.filter(isDeleteEntry)
    val prune = Prune.conjunction(
      bounds.map { case (c, lo, hi) => (physName(table, c), lo, hi) },
      strBounds.map { case (c, lo, hi) => (physName(table, c), lo, hi) })
    val candidates = entries.filterNot(isDeleteEntry)
      .filter(e => prune.admits(parseEntry(e, Nil)))
    if (candidates.isEmpty) return basis
    val hit = coalesce(predicate, lit(false))
    // the surviving rows carry their file tag through the tombstone
    // anti-joins; the frame is logicalized (the tag passes through)
    // because `predicate` speaks logical column names
    val touchedKeys = logicalizeFrame(table,
        snapshotFrame(spark, table, candidates ++ delE, mergeSchema = false, tagged = true))
      .filter(hit).select(DvFile).distinct()
      .collect().map(_.getString(0)).toSet
    val touched = candidates.filter(e => touchedKeys.contains(dvKeyOf(entryPath(e))))
    if (touched.isEmpty) return basis
    val keep = physicalizeFrame(table,
      logicalizeFrame(table,
        snapshotFrame(spark, table, touched ++ delE, mergeSchema = false))
        .filter(not(hit)))
    val next = basis + 1L
    val token = java.util.UUID.randomUUID().toString.take(8)
    val dirName = s"c${next}_$token"
    val fileEntries = writeFiles(keep, table, dirName,
      statsCols.map(physName(table, _)), constraints(table))
    publishStaged(table, token, next, dirName, fileEntries, append = true,
      txnId = None, expectedLatest = Some(basis), removed = touched.map(entryPath),
      op = "deleteWhereCow").fold(identity, identity)
  }

  /** Rewrite the current merge-on-read view as a plain overwrite commit:
    * tombstones are applied once and dropped from the new manifest —
    * the OPTIMIZE step that turns read-time anti-joins back into pure
    * scans. The rewritten view is pinned to the head version it was
    * read from: a concurrent commit in the meantime makes this
    * compaction stale, so it throws `ConcurrentModificationException`
    * rather than silently replacing the newer head with old data.
    * Returns the new version.
    */
  def compact(
      spark: SparkSession, table: String,
      targetRowsPerFile: Option[Long] = None): Long = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions at $table")
    val basis = vs.last
    val snap0 = read(spark, table, Some(basis))
    // with a target, CONSOLIDATE while compacting: the rewrite otherwise
    // inherits the input file count, so small-file debt would survive
    // the tombstone cleanup. Row count from footer sums (an overcount
    // under tombstones — the safe direction: never fewer files than
    // the live rows need).
    val snap = targetRowsPerFile.fold(snap0) { target =>
      require(target > 0, "targetRowsPerFile must be positive")
      val n = select(table, Some(basis), Prune.none).flatMap(_.rows).sum
      snap0.coalesce(math.max(1L, (n + target - 1) / target).toInt)
    }
    // a compaction is the one rewrite every file passes through — record
    // the FULL default stats set (integral + string zones, NDV sketches)
    // so maintenance upgrades old pre-stats files instead of erasing them
    commitCore(snap, table, append = false,
      txnId = None, expectedLatest = Some(basis),
      statsCols = defaultStatsCols(table, snap.schema))
      .fold(identity, identity)
  }

  /** One-call AUTO-MAINTENANCE: read the head snapshot's own metadata
    * (footer counts, applicable tombstones — the same inputs the
    * maintenance-advisor query composes from `$files`) and execute what
    * it recommends, atomically via the ordinary snapshot-pinned rewrite
    * paths:
    *  - EQUALITY tombstone debt (any data file under a key tombstone —
    *    a standing per-row probe tax on every scan)
    *    → [[compact]]/[[compactBucketed]]: anti-joins become pure scans;
    *  - POSITIONAL deletion-vector debt (doomed positions ≥ 30% of the
    *    snapshot's live rows, from manifest counts alone — vectors read
    *    at parity, so small ones are cheaper to keep than to rewrite)
    *    → the same compaction, which drops the vectors;
    *  - small-file debt (≥ `smallFilesThreshold` data files under
    *    `smallFileRows` rows) → the same consolidation ([[optimize]] on
    *    the recorded cluster column when one exists, so maintenance
    *    RESTORES the declared layout rather than merely concatenating);
    *  - clustering decay (a declared cluster column whose per-file zone
    *    maps overlap on more than half their sorted adjacencies — the
    *    layout no longer prunes) → the same consolidation, which for a
    *    multi-column declaration re-executes the Z-ORDER interleave;
    *  - otherwise no-op ("healthy", head version unchanged).
    * Returns (action, resulting version). Exposed as
    * `CALL <cat>.system.auto_maintain('ns.t')`. Thresholds default to
    * the advisor's; the decision is metadata-only — no data file opens
    * unless a rewrite actually runs.
    */
  def autoMaintain(
      spark: SparkSession, table: String,
      smallFileRows: Long = 1000L, smallFilesThreshold: Int = 2,
      chainThreshold: Int = chainDebtThreshold): (String, Long) = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions at $table")
    val head = vs.last
    val layout = select(table, Some(head), Prune.none)
    // EQUALITY tombstones trigger on sight: every scan until compaction
    // pays a per-row key-probe tax that grows with the key count
    // (1.14× at ~118k keys, 3.1× at ~1.2M; SCALING.md round 16
    // "the equality→positional cost crossover")
    val eqTombstoned = layout.count(_.tombstones.exists(p => !isPosDeleteFile(p)))
    // POSITIONAL deletion-vector debt is WEIGHED, not binary: vectors
    // read at parity (~1.0× at every measured scale), so a small vector
    // is not worth a full rewrite. What accumulates is doomed-row mass —
    // dead positions every scan decodes and drops, per-file bitmaps in
    // the executor cache, and row-group pruning disabled on referenced
    // files. Pure manifest arithmetic: a tombstone entry's own footer
    // row count IS its doomed-position count.
    val entriesAll = manifestEntries(table, head)
    val doomedPos = entriesAll
      .filter(e => isDeleteEntry(e) && isPosDeleteFile(entryPath(e)))
      .flatMap(parseEntry(_, Nil).rows).sum
    val liveRows = layout.flatMap(_.rows).sum
    val posDebt = liveRows > 0 && doomedPos.toDouble / liveRows >= 0.3
    val small = layout.count(_.rows.exists(n => n > 0L && n < smallFileRows))
    // CLUSTERING DECAY: a declared layout whose zone maps no longer
    // prune. The measure is what pruning actually depends on — the
    // expected fraction of files a point predicate keeps: per declared
    // column, the mean zone width over the global span (a file with no
    // zone keeps everything, ratio 1), multiplied ACROSS the declared
    // columns (a rectangle prunes when ANY dimension excludes). Fresh
    // random appends score ~1; a 1-D optimize ~1/N on its column; a
    // Z-ORDER ~N^(-1/k) per dimension — so the re-clustered layout
    // itself stays comfortably under the 0.5 trigger and the advisor
    // never thrashes. Pure manifest arithmetic, like every other input.
    // schema-evolution carrier entries hold zero rows and no zones:
    // they are metadata vehicles, not layout — both the decay metric
    // and the granularity estimate look only at files that carry rows
    val dataLayout = layout.filterNot(_.rows.contains(0L))
    val decayed = {
      val cs = clusterSpecCols(table)
      cs.nonEmpty && dataLayout.size >= 4 && {
        val score = cs.map { c =>
          val zones = dataLayout.map(_.zones.get(c))
          val known = zones.flatten
          if (known.isEmpty) 1.0
          else {
            val span = (known.map(_._2).max - known.map(_._1).min).toDouble
            if (span <= 0.0) 0.0
            else zones.map {
              case Some((lo, hi)) => math.min(1.0, (hi - lo).toDouble / span)
              case None           => 1.0
            }.sum / dataLayout.size
          }
        }.product
        score > 0.5
      }
    }
    def consolidate(target: Long): Long =
      if (bucketSpec(table).isDefined) compactBucketed(spark, table)
      else clusterSpecCols(table) match {
        case Seq(c)             => optimize(spark, table, c, target)
        // multi-column clustering consolidates via the interleave: every
        // declared dimension keeps (regains) tight zones
        case cs if cs.size > 1  => optimizeZorder(spark, table, cs, target)
        case _                  => compact(spark, table, Some(target))
      }
    // decay restores ORDER, not file count: files were presumably
    // right-sized already, so the rewrite keeps the table's current
    // granularity (capped at the standard 1M-row target) instead of
    // merging everything the way small-file consolidation should.
    // Floored at twice the small-file line — the advisor must never
    // write files it would itself flag on the next call
    val keepGranularity = {
      val known = dataLayout.flatMap(_.rows)
      if (known.size == dataLayout.size && dataLayout.nonEmpty)
        math.min(1L << 20,
          math.max(smallFileRows * 2, known.sum / dataLayout.size))
      else 1L << 20
    }
    // MANIFEST-CHAIN debt: a long un-checkpointed append chain makes
    // every COLD plan walk O(chain) manifest files before the
    // per-version memos warm (~0.1 ms/version of one-time cost — ~1 s
    // at a 10k-commit chain; SCALING.md round 19 "ingest steady state").
    // Checked LAST: every consolidation above already writes a self-contained
    // manifest, so fixing a data debt resets the chain for free; this branch
    // fires only when the data layout is healthy and ONLY metadata accreted.
    // The fix is metadata-only (checkpoint — no data I/O, no versions
    // expired, time travel intact).
    val chainDebt = chainLength(table, head) >= chainThreshold
    if (eqTombstoned > 0) ("compact: tombstone debt", consolidate(1L << 20))
    else if (posDebt)
      ("compact: deletion-vector debt", consolidate(1L << 20))
    else if (small >= smallFilesThreshold)
      ("optimize: small-file debt", consolidate(1L << 20))
    else if (decayed)
      ("optimize: clustering decay", consolidate(keepGranularity))
    else if (chainDebt)
      ("checkpoint: manifest-chain debt", checkpoint(table))
    else ("healthy", head)
  }

  /** Carry-chain length at which [[autoMaintain]] advises a
    * [[checkpoint]]. 64 keeps worst-case cold planning under ~10 ms of
    * chain walk while leaving routine short chains alone.
    */
  val chainDebtThreshold = 64

  /** The `R:`-removed entry paths recorded by version `v` itself. */
  private def ownRemovals(table: String, v: Long): Seq[String] =
    ownEntriesOf(table, v)
      .filter(isRemoveEntry).map(_.stripPrefix("R:"))

  /** Persisted per-commit SCHEMAS (the `schema=` header lines): commit
    * directory → Spark schema. Same chain walk and memoization as the
    * rollups ([[persistedHeaders]]) — snapshot schema resolution consults
    * this first and opens a footer only for directories without a hint.
    */
  private[sources] def persistedSchemas(
      table: String, version: Option[Long])
      : Map[String, org.apache.spark.sql.types.StructType] =
    persistedHeaders(table, version)._2

  /** One version's OWN header declarations, parsed once: the three
    * joint rollup families (first line per dir wins, matching the
    * head-down walk's within-manifest order; a dir is CLAIMED only when
    * at least one family parses nonEmpty — an all-unparseable line
    * claims nothing, so older declarations still serve it), plus the
    * version's schema hints (first line per dir wins, independently).
    */
  private def ownHeaderDecls(table: String, v: Long)
      : (Map[String, Map[String, (Long, Long)]],
         Map[String, org.apache.spark.sql.types.StructType],
         Map[String, Map[String, (Array[Byte], Option[Array[Byte]])]],
         Map[String, Map[String, Array[Byte]]],
         Set[String]) = {
    val rolls = scala.collection.mutable.Map
      .empty[String, Map[String, (Long, Long)]]
    val strRolls = scala.collection.mutable.Map
      .empty[String, Map[String, (Array[Byte], Option[Array[Byte]])]]
    val memberRolls = scala.collection.mutable.Map
      .empty[String, Map[String, Array[Byte]]]
    val schemas = scala.collection.mutable.Map
      .empty[String, org.apache.spark.sql.types.StructType]
    val claimed = scala.collection.mutable.Set.empty[String]
    // header-only byte read — never streams the O(files) entry
    // section of self-contained manifests just to take headers
    manifestHeaderBytes(table, v)._1.tail.foreach { l =>
      if (l.startsWith("rollup=")) {
        val body = l.stripPrefix("rollup=")
        val sp = body.indexOf(' ')
        if (sp > 0) {
          val dir = body.substring(0, sp)
          if (!claimed.contains(dir)) {
            val cellStr = body.substring(sp + 1)
            val cells = zoneCells(cellStr.split(';').iterator)
            if (cells.nonEmpty) rolls.update(dir, cells)
            val strCells = strZoneCells(tagged(cellStr, "s~"))
            if (strCells.nonEmpty) strRolls.update(dir, strCells)
            val memberCells = bloomCells(tagged(cellStr, "b~"))
            if (memberCells.nonEmpty) memberRolls.update(dir, memberCells)
            if (cells.nonEmpty || strCells.nonEmpty || memberCells.nonEmpty)
              claimed += dir
          }
        }
      } else if (l.startsWith("schema=")) {
        val body = l.stripPrefix("schema=")
        val sp = body.indexOf(' ')
        if (sp > 0) {
          val dir = body.substring(0, sp)
          if (!schemas.contains(dir)) {
            try {
              org.apache.spark.sql.types.DataType
                .fromJson(body.substring(sp + 1)) match {
                  case st: org.apache.spark.sql.types.StructType =>
                    schemas.update(dir, st)
                  case _ => ()
                }
            } catch { case scala.util.control.NonFatal(_) => () }
          }
        }
      }
    }
    (rolls.toMap, schemas.toMap, strRolls.toMap, memberRolls.toMap,
      claimed.toSet)
  }

  /** ONE manifest-chain header walk per (table, version): collects both
    * the `rollup=` zone rollups and the `schema=` schema hints, newest
    * declaration of a directory winning (a vacuum materialization
    * recomputes both from the surviving entries). O(commits) header
    * lines, never O(files); an unparseable line is skipped (readers
    * fall back to per-file parses / footer reads).
    */
  private def persistedHeaders(
      table: String, version: Option[Long])
      : (Map[String, Map[String, (Long, Long)]],
         Map[String, org.apache.spark.sql.types.StructType],
         Map[String, Map[String, (Array[Byte], Option[Array[Byte]])]],
         Map[String, Map[String, Array[Byte]]]) = {
    type Headers = (Map[String, Map[String, (Long, Long)]],
      Map[String, org.apache.spark.sql.types.StructType],
      Map[String, Map[String, (Array[Byte], Option[Array[Byte]])]],
      Map[String, Map[String, Array[Byte]]])
    val head = version.getOrElse {
      val vs = versions(table)
      require(vs.nonEmpty, s"no committed versions at $table")
      vs.last
    }
    // INCREMENTAL chain fold: walk down only to the nearest memoized
    // version, then merge each newer version's own declarations over the
    // inherited immutable maps (structural sharing — each level costs
    // O(own header lines)). Head-down first-wins is equivalently
    // bottom-up newest-overrides: a version that claims a dir evicts all
    // three older families for it before adding its own, and schema
    // hints override independently. The first plan after an append
    // therefore parses ONE manifest's headers, not the whole chain's
    // (the 10k-commit chain paid the full walk per append; SCALING.md
    // round 19 "ingest steady state").
    var stack = List.empty[Long] // ascending after the prepends
    var v: Option[Long] = Some(head)
    var acc: Headers = (Map.empty, Map.empty, Map.empty, Map.empty)
    var found = false
    while (v.isDefined && !found) {
      val hit = chainFoldCache.get((table, v.get, "pheaders"))
      if (hit != null) { acc = hit.asInstanceOf[Headers]; found = true }
      else {
        stack = v.get :: stack
        v = carryOf(table, v.get)
      }
    }
    stack.foreach { w =>
      val (oRolls, oSchemas, oStr, oMember, oClaimed) = ownHeaderDecls(table, w)
      var (rolls, schemas, strRolls, memberRolls) = acc
      oClaimed.foreach { d =>
        rolls -= d; strRolls -= d; memberRolls -= d
      }
      acc = (rolls ++ oRolls, schemas ++ oSchemas,
        strRolls ++ oStr, memberRolls ++ oMember)
      chainFoldCache.put((table, w, "pheaders"), acc)
    }
    acc
  }

  /** MERGE INTO (row-level upsert): apply a keyed I/U/D change batch to
    * the table head with last-writer-wins semantics and commit the
    * result as a logical overwrite — the table-level form of MERGE WHEN
    * MATCHED / NOT MATCHED. The merge plan is
    * [[graft.ops.Incremental.cdcApply]]'s delta-sized window + key-hashed
    * full-outer join (linear, skew-free on a primary key); the commit is
    * snapshot-derived, so it rides `expectedLatest` — a concurrent
    * commit between the snapshot read and the publish throws
    * `ConcurrentModificationException` instead of silently basing the
    * merge on a stale head (the write-skew hole MERGE must not have).
    * `statsCols` re-records zone maps for the rewritten files.
    */
  def mergeInto(
      spark: SparkSession, table: String, changes: DataFrame, key: String,
      seqCol: String = "seq", opCol: String = "op",
      statsCols: Seq[String] = Nil): Long = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions at $table")
    val basis = vs.last
    val merged = graft.ops.Incremental
      .cdcApply(read(spark, table, Some(basis)), changes, key, seqCol, opCol)
      .drop("src")
    commitCore(merged, table, append = false, txnId = None,
      expectedLatest = Some(basis), statsCols).fold(identity, identity)
  }

  /** Table history — one row per committed version, inferred from the
    * manifests alone (no data file is opened): the operation shape
    * (`create` / `append` / `delete` / `overwrite` — compaction and
    * merge are overwrites of the head, which is what they are to a
    * reader), the commit's fresh file/tombstone counts, the recorded
    * fresh-row count (null for pre-stats manifests), and the txn id.
    * Driver-built: history is version-cardinality, metadata by nature.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val vs = versions(table) // one directory listing for the whole log
    vs.map { v =>
      val entries = manifestEntries(table, v)
      val fresh = entries.filter(dataCommitOf(_) == v)
      val freshDel = fresh.filter(isDeleteEntry)
      val freshData = fresh.filterNot(isDeleteEntry)
      // classified from the commit's own header, as in [[commitClassFiles]]:
      // `carry=` present ⇒ append-family, self-contained ⇒ create/overwrite
      val op =
        if (freshDel.nonEmpty) "delete"
        else if (ownRemovals(table, v).nonEmpty) "replace"
        else if (carryOf(table, v).isEmpty) if (v == vs.min) "create" else "overwrite"
        else "append"
      val rowsOf = (es: Seq[String]) => {
        val cs = es.map(parseEntry(_, Nil).rows)
        if (cs.exists(_.isEmpty)) None else Some(cs.flatten.sum)
      }
      (v, op, freshData.size, freshDel.size,
        rowsOf(if (op == "delete") freshDel else freshData),
        txnOf(table, v))
    }.toDF("version", "operation", "n_fresh_files", "n_tombstone_files",
      "n_fresh_rows", "txn_id")
  }

  /** OPTIMIZE: rewrite the head snapshot range-clustered on `clusterBy`
    * into ~`targetRowsPerFile`-row files, recording fresh zone maps — the
    * small-file compaction + clustering pass that turns a drift of tiny
    * unordered commits (and any standing tombstones, applied once here)
    * back into a layout where [[readWhere]] prunes and scans are few,
    * fat, and sequential. Snapshot-derived like [[compact]]: a
    * concurrent commit makes this optimize stale and it fails loudly
    * rather than replacing the newer head. Returns the new version.
    */
  def optimize(
      spark: SparkSession, table: String, clusterBy: String,
      targetRowsPerFile: Long = 1L << 20): Long = {
    import org.apache.spark.sql.functions.col
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions at $table")
    val basis = vs.last
    val snap = read(spark, table, Some(basis))
    val n = fastCount(table, Some(basis)).getOrElse(snap.count())
    val parts = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    commitCore(snap.repartitionByRange(parts, col(clusterBy)), table,
      append = false, txnId = None, expectedLatest = Some(basis),
      statsCols = (defaultStatsCols(table, snap.schema) :+ clusterBy).distinct)
      .fold(identity, identity)
  }

  /** OPTIMIZE ZORDER: rewrite the head clustered on the MORTON
    * interleaving of several columns' range-bucketed values, so every
    * written file covers a small hyper-rectangle of the clustering space
    * and carries a tight zone map on EVERY clustering column — a
    * conjunctive multi-column range predicate ([[readWhereBounds]], or a
    * SQL WHERE through the catalog's pushed-filter bounds) then prunes
    * files in any dimension. The 1-D [[optimize]] gives perfect pruning
    * on one column and none on others; this is the Delta/Iceberg
    * OPTIMIZE ZORDER trade: slightly looser per-column ranges, bounded
    * extent in all of them. Columns must cast to long (the zone-map
    * constraint). Snapshot-derived: fails loudly if the head moves.
    */
  /** NDV ceiling for the EXACT-RANK string surrogate: below it the
    * distinct values collect to the driver (≤ a few MB) and each string
    * buckets by its dense rank — collision-free whatever the prefixes.
    * Above it, the 7-byte-prefix u56 keeps the job fully distributed.
    */
  private[sources] val ZorderRankMaxNdv = 1 << 16

  def optimizeZorder(
      spark: SparkSession, table: String, clusterBy: Seq[String],
      targetRowsPerFile: Long = 1L << 20): Long = {
    import org.apache.spark.sql.functions.{approx_count_distinct, broadcast, col, lit, max, min, shiftleft, shiftright, unix_date}
    import org.apache.spark.sql.types.{DateType, StringType}
    require(clusterBy.nonEmpty, "optimizeZorder needs at least one column")
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions at $table")
    val basis = vs.last
    val snap = read(spark, table, Some(basis))
    // Each clustering column range-buckets through an order-preserving
    // LONG surrogate: integral columns cast; DATE maps to epoch days;
    // STRING is NDV-ADAPTIVE — low-cardinality strings map to their
    // exact dense rank (the 7-byte prefix collapses common-prefix
    // corpora like "Customer#000..." into ONE bucket, making the
    // interleave blind in that dimension), high-cardinality strings
    // keep the distributed 7-byte-prefix u56 (same byte order the
    // string zone maps record).
    val strCols = clusterBy.filter(c =>
      snap.schema.fields.exists(f => f.name == c && f.dataType == StringType))
    val rankOf: Map[String, Map[String, Long]] =
      if (strCols.isEmpty) Map.empty
      else {
        val ndvAggs = strCols.map(c =>
          approx_count_distinct(col(c)).as(s"g_ndv_$c"))
        val nr = snap.agg(ndvAggs.head, ndvAggs.tail: _*).collect()(0)
        strCols.filter(c => nr.getAs[Long](s"g_ndv_$c") <= ZorderRankMaxNdv)
          .flatMap { c =>
            // take one past the double-checked cap: an HLL under-estimate
            // must degrade to the prefix surrogate, never a huge collect
            val vals = snap.select(col(c)).where(col(c).isNotNull)
              .distinct().orderBy(col(c))
              .limit(2 * ZorderRankMaxNdv + 1).collect().map(_.getString(0))
            if (vals.length > 2 * ZorderRankMaxNdv) None
            else Some(c -> vals.zipWithIndex
              .map { case (v, i) => v -> i.toLong }.toMap)
          }.toMap
      }
    // ranked columns join their (value, rank) frame in broadcast
    // (bounded by the NDV cap); surrogates then read the rank column
    var aug = snap
    rankOf.foreach { case (c, m) =>
      val s2 = spark
      import s2.implicits._
      val rankDf = m.toSeq.toDF(s"g_rv_$c", s"g_rk_$c")
      aug = aug.join(broadcast(rankDf), aug(c) === rankDf(s"g_rv_$c"), "left")
        .drop(s"g_rv_$c")
    }
    def surrogate(c: String): org.apache.spark.sql.Column =
      if (rankOf.contains(c)) col(s"g_rk_$c")
      else snap.schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(StringType) => graft.functions.TextExpressions.strPrefixU64(col(c))
        case Some(DateType)   => unix_date(col(c)).cast("long")
        case _                => col(c).cast("long")
      }
    val aggs = clusterBy.flatMap(c =>
      Seq(min(surrogate(c)).as(s"g_mn_$c"), max(surrogate(c)).as(s"g_mx_$c")))
    val r = aug.agg(aggs.head, aggs.tail: _*).collect()(0)
    // an empty table min/maxes to null in EVERY column: nothing to
    // cluster, return the basis unchanged (CALL system.zorder on a fresh
    // table is a no-op, not an NPE). A NON-empty table with an all-null
    // (or non-long-castable) clustering column is a caller error.
    if (clusterBy.forall(c => r.getAs[Any](s"g_mn_$c") == null) &&
        fastCount(table, Some(basis)).map(_ == 0L).getOrElse(snap.isEmpty))
      return basis
    clusterBy.foreach(c => require(r.getAs[Any](s"g_mn_$c") != null,
      s"optimizeZorder: clustering column $c of $table has no " +
        "long-castable values (all null?) — cannot range-bucket it"))
    def bucket(c: String): org.apache.spark.sql.Column = {
      val (lo, hi) = (r.getAs[Long](s"g_mn_$c"), r.getAs[Long](s"g_mx_$c"))
      // buckets must FILL [0, 255], or the Morton code's high bits for
      // this dimension are constant and the interleave goes blind in it
      // (a rank surrogate over 8 values would otherwise use 3 bits).
      // Multiply-then-divide spreads any span across the full range and
      // is overflow-safe up to 2^55 ((v-lo) < span, ×256 < 2^63); only
      // the u56 prefix surrogate's giant spans need divide-first, and
      // those already spread.
      val span = math.max(hi - lo + 1L, 1L)
      if (span <= (1L << 55))
        ((surrogate(c) - lit(lo)) * 256L / lit(span)).cast("int")
      else {
        val width = math.max((span + 255L) / 256L, 1L)
        ((surrogate(c) - lit(lo)) / lit(width)).cast("int")
      }
    }
    val k = clusterBy.size
    // bit i of column j lands at position i*k + j — the k-ary Morton code
    val morton = (for (i <- 0 until 8; (c, j) <- clusterBy.zipWithIndex) yield
      shiftleft(shiftright(bucket(c), i).bitwiseAND(lit(1)), i * k + j))
      .reduce(_ bitwiseOR _)
    val n = fastCount(table, Some(basis)).getOrElse(snap.count())
    val parts = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val clustered = aug.withColumn("g_z", morton)
      .repartitionByRange(parts, col("g_z"))
      .sortWithinPartitions("g_z")
      .drop("g_z")
      .drop(rankOf.keys.map(c => s"g_rk_$c").toSeq: _*)
    commitCore(clustered, table, append = false, txnId = None,
      expectedLatest = Some(basis), statsCols = clusterBy).fold(identity, identity)
  }

  // ---- Bucketed tables (storage-partitioned joins) ----

  private def bucketSpecFile(table: String): Path =
    manifestDir(table).resolve("bucketspec.txt")

  /** The table's bucket layout, if any: (column, numBuckets), recorded
    * by the first [[commitBucketed]]. A bucketed table's data files live
    * under `__graft_bucket=<b>/` inside each commit directory, with
    * b = pmod(column, numBuckets) — the same function the SQL catalog
    * exposes for storage-partitioned joins, so two tables bucketed the
    * same way are provably co-located and their equi-join needs NO
    * exchange.
    */
  def bucketSpec(table: String): Option[(String, Int)] = {
    val f = bucketSpecFile(table)
    if (!Files.exists(f)) None
    else Files.readAllLines(f).asScala.headOption.flatMap {
      _.split("\t", 2) match {
        case Array(c, n) => Some((c, n.toInt))
        case _           => None
      }
    }
  }

  /** Record `table`'s bucket layout atomically-if-absent (link-as-CAS,
    * same discipline as manifest publication). Idempotent when the spec
    * already matches; throws [[java.util.ConcurrentModificationException]]
    * when a different spec is (or concurrently gets) recorded — the two
    * layouts cannot coexist, one writer must lose loudly.
    */
  private[sources] def recordBucketSpec(
      table: String, bucketCol: String, nBuckets: Int): Unit = {
    clusterSpec(table).foreach { c =>
      throw new UnsupportedOperationException(
        s"$table clusters on write by $c: bucket placement and " +
          "cluster-on-write ordering cannot coexist")
    }
    createOnce(bucketSpecFile(table), Seq(s"$bucketCol\t$nBuckets"))
    bucketSpec(table).foreach { case (c, n) =>
      if (c != bucketCol || n != nBuckets)
        throw new java.util.ConcurrentModificationException(
          s"$table is bucketed by ($c, $n); cannot record ($bucketCol, $nBuckets)")
    }
  }

  // ---- Declarative clustering (clustered-on-WRITE tables) ----
  //
  // A recorded cluster column makes EVERY SQL INSERT declare an ordered
  // distribution on it (Spark range-partitions and sorts the rows before
  // they reach the writers), so the staged files carry tight, disjoint
  // zone maps from birth — planning-time pruning, TopN file planning,
  // and in-file row-group skipping are effective WITHOUT ever running
  // OPTIMIZE. The Delta-liquid-ish "clustering as a table property, not
  // a maintenance job" shape, at commit granularity: each commit's files
  // are internally clustered; OPTIMIZE still consolidates across commits.

  private def clusterSpecFile(table: String): Path =
    manifestDir(table).resolve("clusterspec.txt")

  /** The table's declared cluster-on-write column spec, if any —
    * comma-separated for multi-column (lexicographic) clustering.
    */
  def clusterSpec(table: String): Option[String] = {
    val f = clusterSpecFile(table)
    if (!Files.exists(f)) None
    else Files.readAllLines(f).asScala.headOption.filter(_.nonEmpty)
  }

  /** The cluster-on-write columns as a list (empty = unclustered). */
  def clusterSpecCols(table: String): Seq[String] =
    clusterSpec(table).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Record the cluster-on-write column atomically-if-absent (same
    * link-as-CAS discipline as [[recordBucketSpec]]); refused on a
    * bucketed table — the two layouts prescribe conflicting placements.
    */
  private[sources] def recordClusterSpec(table: String, col: String): Unit = {
    bucketSpec(table).foreach { case (c, n) =>
      throw new UnsupportedOperationException(
        s"$table is bucketed by ($c, $n): bucket placement and " +
          "cluster-on-write ordering cannot coexist")
    }
    createOnce(clusterSpecFile(table), Seq(col))
    clusterSpec(table).foreach { c =>
      if (c != col)
        throw new java.util.ConcurrentModificationException(
          s"$table clusters on $c; cannot record $col")
    }
  }

  // ---- Identity partitioning (PARTITIONED BY (col)) ----
  //
  // Stored as a marker alongside the cluster spec: the TABLE declares
  // value partitioning; the ENGINE delivers it as clustered-on-write +
  // zone-map pruning (each commit's files cover tight disjoint value
  // ranges; a partition predicate plans a strict file subset) rather
  // than Hive-style directories — same pruning, no small-file explosion
  // on high-cardinality partition keys, and DESCRIBE still reports the
  // identity transform the user declared.

  private def identitySpecFile(table: String): Path =
    manifestDir(table).resolve("identityspec.txt")

  /** The table's declared identity partition column, if any. */
  def identityPartition(table: String): Option[String] = {
    val f = identitySpecFile(table)
    if (!Files.exists(f)) None
    else Files.readAllLines(f).asScala.headOption.filter(_.nonEmpty)
  }

  /** Split a recorded partition spec on TOP-LEVEL commas only —
    * `"a,days(ts),truncate(4,name)"` → its three declarations (the
    * truncate's inner comma stays put).
    */
  private[sources] def splitDecls(spec: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val cur = new StringBuilder
    spec.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result().trim; cur.clear()
      case c => cur += c
    }
    out += cur.result().trim
    out.filter(_.nonEmpty).toSeq
  }

  /** The declared partition transforms, one string each — `col`,
    * `days(col)`, `months(col)`, `hours(col)`, `years(col)`, or
    * `truncate(n, col)`.
    */
  private[sources] def identityDecls(table: String): Seq[String] =
    identityPartition(table).toSeq.flatMap(splitDecls)

  /** The SOURCE column of one declaration (`days(ts)` → `ts`). All the
    * engine's temporal/truncate transforms are MONOTONE in their source,
    * so clustering-on-write and zone maps operate on the raw column —
    * the transform only names the user's intent (and its granularity).
    */
  private[sources] def declSource(decl: String): String = {
    val i = decl.indexOf('(')
    if (i < 0) decl
    else {
      val args = decl.substring(i + 1, decl.lastIndexOf(')'))
        .split(',').map(_.trim)
      // truncate(n, col) carries a width literal; temporal transforms
      // carry the column alone
      args.find(a => a.nonEmpty && !a.forall(_.isDigit)).getOrElse(args.last)
    }
  }

  /** Raw source columns of the table's partition declarations. */
  private[sources] def identitySourceCols(table: String): Seq[String] =
    identityDecls(table).map(declSource)

  /** Record the identity partition column atomically-if-absent (same
    * link-as-CAS discipline as [[recordClusterSpec]], which the caller
    * records too — this marker only preserves the DECLARED transform).
    */
  private[sources] def recordIdentityPartition(table: String, col: String): Unit = {
    createOnce(identitySpecFile(table), Seq(col))
    identityPartition(table).foreach { c =>
      if (c != col)
        throw new java.util.ConcurrentModificationException(
          s"$table is partitioned by $c; cannot record $col")
    }
  }

  /** Partition-transform EVOLUTION (Iceberg's `ALTER TABLE ... ADD/
    * REPLACE PARTITION FIELD`, surfaced here as `CALL <cat>.system
    * .set_partitioning(table, spec)`): replace the table's identity/
    * transform declaration with `spec` (same syntax the recorded decl
    * uses — `col`, `days(col)`, `months(col)`, `hours(col)`,
    * `years(col)`, `truncate(n,col)`, comma-separated). Old commits keep
    * their clustering — files are immutable and their per-file zone maps
    * keep pruning them exactly as before (a transform-partitioned layout
    * IS a source-clustered layout, and pruning consults zones per FILE,
    * never a table-wide layout) — while every commit from now on
    * clusters on the NEW declaration's source columns and records their
    * zones. No data is rewritten; `CALL optimize` re-clusters history
    * into the new layout when wanted. Refused on bucketed tables (bucket
    * placement is load-bearing for storage-partitioned joins — evolving
    * it would silently break co-location).
    */
  def setPartitioning(
      spark: SparkSession, table: String, spec: String): Unit = {
    require(bucketSpec(table).isEmpty,
      s"$table is bucketed: bucket placement cannot be evolved in place " +
        "(CLONE to a new layout instead)")
    val decls = splitDecls(spec)
    require(decls.nonEmpty, "set_partitioning needs at least one declaration")
    val schema = snapshotSchema(spark, table, None)
    import org.apache.spark.sql.types.{
      DateType, IntegerType, LongType, StringType, TimestampType}
    decls.foreach { d =>
      val src = physName(table, declSource(d))
      val dt = schema.fields.find(_.name == src).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"partition column ${declSource(d)} is not a column of $table"))
      val fn = d.takeWhile(_ != '(').trim
      d.indexOf('(') match {
        case -1 => // identity: same acceptance rules as CREATE
          require(dt == LongType || dt == IntegerType || dt == StringType ||
            dt == DateType || dt == TimestampType ||
            (dt match {
              case x: org.apache.spark.sql.types.DecimalType => x.precision <= 18
              case _ => false
            }),
            s"PARTITIONED BY ($d) needs a BIGINT/INT/STRING/DATE/TIMESTAMP/" +
              s"DECIMAL(<=18) column; $src is $dt")
        case _ => fn match {
          case "hours" => require(dt == TimestampType,
            s"$d needs a TIMESTAMP column; $src is $dt")
          case "days" | "months" | "years" =>
            require(dt == TimestampType || dt == DateType,
              s"$d needs a TIMESTAMP/DATE column; $src is $dt")
          case "truncate" =>
            val w = d.substring(d.indexOf('(') + 1, d.lastIndexOf(')'))
              .split(',').map(_.trim).find(_.forall(_.isDigit))
              .flatMap(_.toIntOption).getOrElse(
                throw new IllegalArgumentException(
                  s"$d: truncate needs an integer width"))
            require(w > 0, s"truncate width must be positive, got $w")
            require(dt == StringType || dt == LongType || dt == IntegerType,
              s"$d needs a STRING/BIGINT/INT column; $src is $dt")
          case other => throw new UnsupportedOperationException(
            s"unknown partition transform $other in $d")
        }
      }
    }
    val srcs = decls.map(declSource)
    require(srcs.distinct.size == srcs.size,
      s"duplicate partition columns: ${srcs.mkString(", ")}")
    // atomic replace of both the declared transform and the
    // cluster-on-write keys it implies — a concurrent INSERT reads either
    // the old or the new spec, both of which are valid layouts pruning
    // resolves per file
    replaceFile(identitySpecFile(table), Seq(decls.mkString(",")))
    replaceFile(clusterSpecFile(table), Seq(srcs.mkString(",")))
  }

  /** Commit `df` BUCKETED on `bucketCol` into `nBuckets` modulo buckets
    * (`pmod(col, n)`; NULL keys land in bucket 0 — they never match an
    * equi-join anyway). Each commit writes one Hive-style
    * `__graft_bucket=<b>/` subtree, so the per-bucket file sets are
    * reconstructible from the manifest paths alone and EVERY commit
    * preserves the invariant: appends must use this method with the
    * SAME spec ([[commitCore]]-based writes refuse on bucketed tables),
    * merge-on-read deletes compose (tombstones are key files, not
    * bucketed data). This is the write half of the catalog's
    * storage-partitioned join support.
    */
  def commitBucketed(
      df0: DataFrame, table: String, bucketCol: String, nBuckets: Int,
      append: Boolean, expectedLatest: Option[Long] = None,
      sortWithin: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, pmod}
    require(nBuckets > 0, "nBuckets must be positive")
    // the bucket column can never be renamed, so its name is identical in
    // both namespaces; other columns land under their physical names
    val df = physicalizeFrame(table, df0)
    bucketSpec(table).foreach { case (c, n) =>
      require(c == bucketCol && n == nBuckets,
        s"$table is bucketed by ($c, $n); a commit bucketed by " +
          s"($bucketCol, $nBuckets) would break co-location")
    }
    require(bucketSpec(table).isDefined || versions(table).isEmpty || !append,
      s"cannot append a bucketed layout onto the unbucketed data of $table — " +
        "overwrite, or bucket the table from its first commit")
    val token = java.util.UUID.randomUUID().toString.take(8)
    val next = versions(table).lastOption.getOrElse(0L) + 1L
    val dirName = s"c${next}_$token"
    val dataDir = Paths.get(table, "data", dirName)
    val placed = df.withColumn("__graft_bucket",
        coalesce(pmod(col(bucketCol).cast("long"), lit(nBuckets.toLong)), lit(0L))
          .cast("int"))
      .repartition(nBuckets, col("__graft_bucket"))
    // sortWithin: each file's rows come out key-ascending (the write's
    // own partition-column sort requirement is satisfied by the prefix,
    // so no re-sort happens) — the layout SupportsReportOrdering serves
    (if (sortWithin) placed.sortWithinPartitions(col("__graft_bucket"), col(bucketCol))
     else placed)
      .write.mode("errorifexists").partitionBy("__graft_bucket")
      .parquet(dataDir.toString)
    // key-sorted files carry a provenance marker in their NAME: only the
    // sorting writers produce it, so the scan's ordering report can gate
    // on something immutable (an unsorted INSERT can't fake it)
    if (sortWithin) {
      usingPaths(Files.walk(dataDir))(_
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .toSeq).foreach { p =>
          Files.move(p, p.resolveSibling(s"sorted-${p.getFileName}")); ()
        }
    }
    // partitionBy writes NO part files for an empty frame (there are no
    // partition values) — land a schema carrier so the snapshot stays
    // readable; bucket 0 keeps [[bucketLayout]]'s nesting invariant
    if (!usingPaths(Files.walk(dataDir))(_.exists(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".parquet")))) {
      val carrier = dataDir.resolve("__graft_bucket=0/part-schema-0.parquet")
      Files.createDirectories(carrier.getParent)
      new GraftDataWriter(carrier.toString, df.schema).commit()
      ()
    }
    val entries = dirMetadata(df.sparkSession, table, dirName,
      defaultStatsCols(table, df.schema), constraints(table))
    // record the spec atomically-if-absent BEFORE publishing: a racing
    // first-commit with a DIFFERENT spec must lose loudly, not coexist
    try recordBucketSpec(table, bucketCol, nBuckets)
    catch {
      case e: java.util.ConcurrentModificationException =>
        deleteRecursively(dataDir); throw e
    }
    publishStaged(table, token, next, dirName, entries, append,
      txnId = None, expectedLatest = expectedLatest).fold(identity, identity)
  }

  /** Compaction for BUCKETED tables: rewrite the resolved head snapshot
    * through the same bucketed writer (one KEY-SORTED file per bucket,
    * tombstones applied during the read), published as an overwrite with
    * the basis as the expected head — a concurrent commit fails loudly
    * instead of being clobbered. Co-location is preserved by
    * construction, and because every bucket collapses to a single sorted
    * file the scan reports per-partition ordering afterwards: the
    * storage-partitioned join runs with NO exchange and NO sort on
    * either side. At 100 TB this is the nightly small-file sweep for the
    * fact tables every bucketed append and row-level DML slowly
    * fragments — and it upgrades the join plan, not just the file count.
    */
  def compactBucketed(spark: SparkSession, table: String): Long = {
    val (bucketCol, nBuckets) = bucketSpec(table).getOrElse(
      throw new UnsupportedOperationException(
        s"$table is not bucketed — use compact"))
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions at $table")
    val basis = vs.last
    commitBucketed(read(spark, table, Some(basis)), table, bucketCol,
      nBuckets, append = false, expectedLatest = Some(basis),
      sortWithin = true)
  }

  /** Data files of a bucketed table grouped by bucket id, parsed from
    * the paths alone. Files missing the bucket component fail loudly
    * (the write path makes them impossible).
    */
  private[sources] def bucketLayout(
      table: String, files: Seq[FileEntry]): Map[Int, Seq[FileEntry]] =
    files.groupBy { f =>
      f.path.split('/').collectFirst {
        case seg if seg.startsWith("__graft_bucket=") =>
          seg.stripPrefix("__graft_bucket=").toInt
      }.getOrElse(throw new IllegalStateException(
        s"bucketed table $table holds an unbucketed data file: ${f.path}"))
    }

  /** PARTIAL OPTIMIZE (`OPTIMIZE ... WHERE` shape): rewrite ONLY the
    * files whose `clusterBy` zone map intersects `[lo, hi]` (stat-less
    * files are conservatively included — they might hold range rows),
    * range-clustered with fresh zone maps, published as a REPLACE
    * commit: `R:` lines drop exactly the rewritten files, everything
    * else rides the carry pointer. At 100 TB this turns "compact the
    * hot key range's small-file debt" into an O(touched) maintenance
    * action instead of [[optimize]]'s table-sized rewrite. Tombstones
    * applicable to the touched files are applied during the rewrite
    * (the rows written are the POST-delete rows, so re-seating them on
    * a fresh commit number cannot resurrect deletions); tombstones stay
    * in the manifest for the carried files they still govern.
    * Snapshot-derived: a concurrent commit fails this loudly. Returns
    * the new version, or the basis unchanged when nothing intersects.
    */
  def optimizeWhere(
      spark: SparkSession, table: String, clusterBy: String,
      lo: Long, hi: Long, targetRowsPerFile: Long = 1L << 20): Long = {
    import org.apache.spark.sql.functions.col
    bucketSpec(table).foreach { case (c, n) =>
      throw new UnsupportedOperationException(
        s"$table is bucketed by ($c, $n): a flat range rewrite would " +
          "destroy the bucket layout")
    }
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions at $table")
    val basis = vs.last
    val entries = manifestEntries(table, basis)
    val delE = entries.filter(isDeleteEntry)
    val pc = physName(table, clusterBy) // stats and frame are physical
    val prune = Prune.conjunction(Seq((pc, lo, hi)), Nil)
    val touched = entries.filterNot(isDeleteEntry)
      .filter(e => prune.admits(parseEntry(e, Nil)))
    if (touched.isEmpty) return basis
    val frame = snapshotFrame(spark, table, touched ++ delE, mergeSchema = false)
    val n = {
      val cs = touched.map(parseEntry(_, Nil).rows)
      if (cs.exists(_.isEmpty) || delE.nonEmpty) frame.count()
      else cs.flatten.sum
    }
    val parts = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val next = basis + 1L
    val token = java.util.UUID.randomUUID().toString.take(8)
    val dirName = s"c${next}_$token"
    val fileEntries = writeFiles(
      frame.repartitionByRange(parts, col(pc)).sortWithinPartitions(pc),
      table, dirName, (defaultStatsCols(table, frame.schema) :+ pc).distinct,
      constraints(table))
    publishStaged(table, token, next, dirName, fileEntries, append = true,
      txnId = None, expectedLatest = Some(basis), removed = touched.map(entryPath),
      op = "optimizeWhere").fold(identity, identity)
  }

  /** Multi-column zone-map read: [[readWhere]] generalized to a
    * conjunction of range bounds — a file survives only if EVERY bounded
    * column's zone map intersects its range (stat-less columns never
    * prune). The filter is applied after the scan, so the result equals
    * the unpruned conjunctive filter exactly.
    */
  def readWhereBounds(
      spark: SparkSession, table: String, version: Option[Long],
      bounds: Seq[(String, Long, Long)],
      mergeSchema: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val pb = bounds.map { case (c, lo, hi) => (physName(table, c), lo, hi) }
    val prune = Prune.conjunction(pb, Nil)
    val entries = pinnedEntries(table, version)
    val pruned = entries.filter(e =>
      isDeleteEntry(e) || prune.admits(parseEntry(e, Nil)))
    // all data files excluded: scan the unpruned snapshot (the filter
    // still yields zero rows) rather than special-casing an empty scan's
    // schema — correct, and the zero-match case is not the hot path
    val base =
      if (pruned.forall(isDeleteEntry)) snapshotFrame(spark, table, entries, mergeSchema)
      else snapshotFrame(spark, table, pruned, mergeSchema)
    logicalizeFrame(table, pb.foldLeft(base) { case (df, (c, lo, hi)) =>
      df.filter(col(c) >= lo && col(c) <= hi)
    })
  }

  /** As [[pruneCount]] for a conjunction of bounds. */
  def pruneCountBounds(
      table: String, version: Option[Long],
      bounds: Seq[(String, Long, Long)]): (Int, Int) = {
    val dataE = pinnedEntries(table, version).filterNot(isDeleteEntry)
    val prune = Prune.conjunction(
      bounds.map { case (c, lo, hi) => (physName(table, c), lo, hi) }, Nil)
    (dataE.count(e => prune.admits(parseEntry(e, Nil))), dataE.size)
  }

  // ---- Column mapping (metadata-only RENAME / DROP COLUMN) ----
  //
  // Files are immutable, so a rename can never rewrite them — instead a
  // column keeps its PHYSICAL name (its name at first write) forever,
  // and `_manifest/colmap.txt` records `physical<TAB>logical` for every
  // column whose user-facing name diverged (an empty logical marks a
  // DROP). Everything inside the engine — manifests, zone maps,
  // tombstone keys, footer schemas — stays physical; the mapping is
  // applied only at the API boundary (read output, commit input, the
  // SQL catalog's schema/scan/write name translation), which is what
  // makes RENAME and DROP O(1) metadata operations at any data scale,
  // the same trade Delta's column-mapping mode makes. Invariant: the
  // logical and physical namespaces are DISJOINT for mapped columns
  // (a new logical name may never shadow any current or retired
  // physical name), so applying a translation to an already-physical
  // frame is a no-op — internal read-modify-write cycles can't
  // double-translate. The mapping is table-wide, not versioned: time
  // travel sees current names (Delta behaves the same way).

  private def colMapFile(table: String): Path =
    manifestDir(table).resolve("colmap.txt")

  /** The table's column mapping, physical → logical; an empty logical
    * name marks a dropped column. Empty for unmapped tables.
    */
  def columnMap(table: String): Map[String, String] = {
    val f = colMapFile(table)
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.iterator.flatMap { l =>
      l.split("\t", -1) match {
        case Array(p, lg) if p.nonEmpty => Some(p -> lg)
        case _                          => None
      }
    }.toMap
  }

  private def writeColMap(table: String, m: Map[String, String]): Unit =
    replaceFile(colMapFile(table), m.toSeq.sortBy(_._1).map { case (p, lg) => s"$p\t$lg" })

  /** Refuse field names containing '.', at any nesting depth. Spark
    * permits them via backticks, but the engine's zone-map keys,
    * row-group leaves, and column-map entries all live in a DOTTED
    * namespace — a literal dot in a name would alias a nested path and
    * could classify stats or renames against the wrong field.
    */
  private[sources] def requireDotFreeNames(
      dt: org.apache.spark.sql.types.DataType, where: String): Unit = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      st.fields.foreach { f =>
        require(!f.name.contains('.'),
          s"invalid column name `${f.name}` in $where: dots inside a " +
            "field name are reserved for nested paths")
        requireDotFreeNames(f.dataType, where)
      }
    case at: org.apache.spark.sql.types.ArrayType =>
      requireDotFreeNames(at.elementType, where)
    case mt: org.apache.spark.sql.types.MapType =>
      requireDotFreeNames(mt.keyType, where); requireDotFreeNames(mt.valueType, where)
    case _ => ()
  }

  /** logical → physical for live TOP-LEVEL columns (identity pairs never
    * appear; nested entries — dotted keys — are excluded).
    */
  private[sources] def logicalToPhysical(table: String): Map[String, String] =
    columnMap(table).collect {
      case (p, lg) if lg.nonEmpty && !p.contains('.') => lg -> p
    }

  /** Per-SEGMENT logical→physical rename map: (physical parent path,
    * logical leaf) → physical leaf, covering top-level entries (parent
    * "") and nested dotted entries alike. This is the translation unit
    * for DOTTED paths: a logical path resolves segment by segment, each
    * lookup keyed by the physical path resolved so far — which is what
    * lets a renamed leaf live under a renamed spine. Dropped entries
    * (empty logical) contribute nothing: a dropped field has no logical
    * name to translate FROM.
    */
  private[sources] def segmentL2P(table: String): Map[(String, String), String] =
    columnMap(table).collect {
      case (p, lg) if lg.nonEmpty =>
        val i = p.lastIndexOf('.')
        if (i < 0) ("", lg) -> p
        else (p.substring(0, i), lg) -> p.substring(i + 1)
    }

  /** The physical name behind a logical column (identity when unmapped). */
  private[sources] def physName(table: String, logical: String): String =
    logicalToPhysical(table).getOrElse(logical, logical)

  /** The physical DOTTED path behind a logical dotted path, resolved
    * segment by segment against [[segmentL2P]]. Identity on unmapped
    * segments, so unmapped tables and already-physical paths pass
    * through (the disjointness invariant: a logical name never equals
    * any current or retired physical name in the same scope).
    */
  private[sources] def physDotted(
      seg: Map[(String, String), String], logical: String): String = {
    if (seg.isEmpty) return logical
    val parts = logical.split('.')
    val out = new java.lang.StringBuilder(logical.length)
    var parent = ""
    var i = 0
    while (i < parts.length) {
      val phys = seg.getOrElse((parent, parts(i)), parts(i))
      if (i > 0) out.append('.')
      out.append(phys)
      parent = out.toString
      i += 1
    }
    out.toString
  }

  /** A physically-named frame under its LOGICAL names: renamed columns
    * aliased, dropped columns projected away — at top level AND inside
    * struct spines (nested renames/drops rebuild the struct expression;
    * null parents stay null). Identity — zero plan nodes added — when
    * the table has no mapping.
    */
  private[sources] def logicalizeFrame(table: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val m = columnMap(table)
    if (m.isEmpty) df
    else df.select(df.schema.fields.toIndexedSeq.flatMap { f =>
      m.get(f.name) match {
        case Some("") => None
        case top =>
          val lg = top.getOrElse(f.name)
          val c = f.dataType match {
            case st: org.apache.spark.sql.types.StructType
                if m.keysIterator.exists(_.startsWith(f.name + ".")) =>
              logicalizeStructCol(m, col(f.name), f.name, st, f.nullable)
            case _ => col(f.name)
          }
          Some(c.as(lg))
      }
    }: _*)
  }

  /** Rebuild a struct column under its logical field names: mapped
    * fields aliased, dropped fields omitted, deeper struct spines
    * recursed. A nullable parent keeps null rows null (the bare
    * struct() of a null parent's children would otherwise materialize a
    * struct of nulls).
    */
  private def logicalizeStructCol(
      m: Map[String, String], c: org.apache.spark.sql.Column,
      physPath: String, st: org.apache.spark.sql.types.StructType,
      nullable: Boolean): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{struct, when}
    val kids = st.fields.toIndexedSeq.flatMap { f =>
      val p = s"$physPath.${f.name}"
      m.get(p) match {
        case Some("") => None
        case e =>
          val lg = e.getOrElse(f.name)
          val child = c.getField(f.name)
          val cc = f.dataType match {
            case s: org.apache.spark.sql.types.StructType
                if m.keysIterator.exists(_.startsWith(p + ".")) =>
              logicalizeStructCol(m, child, p, s, f.nullable)
            case _ => child
          }
          Some(cc.as(lg))
      }
    }
    val rebuilt = struct(kids: _*)
    if (nullable) when(c.isNotNull, rebuilt) else rebuilt
  }

  /** A physical schema under its logical names (dropped columns removed,
    * field order and types preserved), through struct spines.
    */
  private[sources] def logicalizeSchema(
      table: String, schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val m = columnMap(table)
    if (m.isEmpty) return schema
    def walk(prefix: String, st: StructType): StructType =
      StructType(st.fields.flatMap { f =>
        val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        m.get(p) match {
          case Some("") => None
          case e =>
            val dt = f.dataType match {
              case s: StructType => walk(p, s)
              case x             => x
            }
            Some(f.copy(name = e.getOrElse(f.name), dataType = dt))
        }
      })
    walk("", schema)
  }

  /** A logically-named frame under its physical names — the write-side
    * twin of [[logicalizeFrame]], through struct spines. No-op on
    * unmapped tables AND on already-physical frames (namespace
    * disjointness, see above): a physical name is never a segment-map
    * key, so every lookup misses and nothing is rebuilt.
    */
  private[sources] def physicalizeFrame(table: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val seg = segmentL2P(table)
    if (seg.isEmpty) return df
    val rebuilt = df.schema.fields.toIndexedSeq.map { f =>
      val phys = seg.getOrElse(("", f.name), f.name)
      f.dataType match {
        case st: org.apache.spark.sql.types.StructType =>
          physicalizeStructCol(seg, col(f.name), phys, st, f.nullable)
            .map(c => Some(c.as(phys))).getOrElse {
              if (phys == f.name) None else Some(col(f.name).as(phys))
            }
        case _ => if (phys == f.name) None else Some(col(f.name).as(phys))
      }
    }
    if (rebuilt.forall(_.isEmpty)) df
    else df.select(df.columns.indices.map { i =>
      rebuilt(i).getOrElse(col(df.columns(i)))
    }: _*)
  }

  /** Rebuild a struct column under its physical field names, resolving
    * each LOGICAL field name by name (never by position — a caller's
    * struct field order is its own). Returns None when no segment under
    * this spine renames, so untouched columns add zero plan nodes.
    */
  private def physicalizeStructCol(
      seg: Map[(String, String), String], c: org.apache.spark.sql.Column,
      physPath: String, st: org.apache.spark.sql.types.StructType,
      nullable: Boolean): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{struct, when}
    var changed = false
    val kids = st.fields.toIndexedSeq.map { f =>
      val phys = seg.getOrElse((physPath, f.name), f.name)
      if (phys != f.name) changed = true
      val p = s"$physPath.$phys"
      val child = c.getField(f.name)
      val cc = f.dataType match {
        case s: org.apache.spark.sql.types.StructType =>
          physicalizeStructCol(seg, child, p, s, f.nullable) match {
            case Some(r) => changed = true; r
            case None    => child
          }
        case _ => child
      }
      cc.as(phys)
    }
    if (!changed) None
    else {
      val rebuilt = struct(kids: _*)
      Some(if (nullable) when(c.isNotNull, rebuilt) else rebuilt)
    }
  }

  /** Logical field names → physical, order and types preserved, through
    * struct spines.
    */
  private[sources] def physicalizeSchema(
      table: String, schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val seg = segmentL2P(table)
    if (seg.isEmpty) return schema
    def walk(physPrefix: String, st: StructType): StructType =
      StructType(st.fields.map { f =>
        val phys = seg.getOrElse((physPrefix, f.name), f.name)
        val p = if (physPrefix.isEmpty) phys else s"$physPrefix.$phys"
        val dt = f.dataType match {
          case s: StructType => walk(p, s)
          case x             => x
        }
        f.copy(name = phys, dataType = dt)
      })
    walk("", schema)
  }

  private def requireRenamable(
      spark: SparkSession, table: String, column: String, verb: String): Unit = {
    require(versions(table).nonEmpty, s"no committed versions at $table")
    bucketSpec(table).foreach { case (c, _) =>
      require(physName(table, column) != c,
        s"cannot $verb $column: $table is bucketed by it — the bucket " +
          "layout and storage-partitioned joins key on that column")
    }
    clusterSpecCols(table).foreach { c =>
      require(physName(table, column) != c,
        s"cannot $verb $column: $table clusters on write by it — the " +
          "SQL INSERT distribution keys on that column")
    }
    constraints(table).foreach { case (n, e) =>
      require(!s"\\b${java.util.regex.Pattern.quote(column)}\\b".r
          .findFirstIn(e).isDefined,
        s"cannot $verb $column: CHECK constraint $n references it " +
          s"($e) — drop the constraint first")
    }
  }

  /** ALTER TABLE RENAME COLUMN, metadata-only: records the new logical
    * name in the column map — no data file is read, written, or moved at
    * any scale, and every existing snapshot (time travel included) reads
    * back under the new name. Refused for the bucket column (layout and
    * SPJ key on it), for columns referenced by a CHECK constraint (the
    * stored predicate text would dangle), and when the new name would
    * collide with any live logical OR any current/retired physical name
    * (the disjointness invariant that keeps translation idempotent —
    * so a dropped column's name can never be reused either).
    * DDL-vs-DDL racers on the single mapping file are last-writer-wins,
    * like the constraints file; data commits are unaffected either way.
    */
  def renameColumn(
      spark: SparkSession, table: String, from: String, to: String): Unit = {
    requireRenamable(spark, table, from, "rename")
    // same guard as renameColumnPath/CREATE/ADD: a dotted LOGICAL name
    // would alias the nested-path namespace and silently fall out of
    // the dotted translation (physDotted splits on '.')
    require(!to.contains('.'),
      s"invalid column name $to: dots are reserved for nested paths")
    val phys = snapshotSchema(spark, table, None)
    val m = columnMap(table)
    val logical = logicalizeSchema(table, phys).fieldNames.toSet
    require(logical.contains(from), s"column $from does not exist in $table")
    require(!logical.contains(to), s"column $to already exists in $table")
    val p = physName(table, from)
    // a column may take back its OWN physical name (rename-back, which
    // erases its map entry) — any other physical name, live or retired,
    // is off-limits (the disjointness invariant)
    require(p == to || (!phys.fieldNames.contains(to) && !m.contains(to)),
      s"cannot rename $from to $to: $to is (or was) a physical column " +
        s"name of $table — pick a name never used by this table")
    writeColMap(table, if (p == to) m - p else m + (p -> to))
  }

  /** ALTER TABLE DROP COLUMN, metadata-only: marks the column dropped in
    * the map — files keep the bytes (parquet column pruning means they
    * are never decoded again), so the operation is O(1) at any scale and
    * a later OPTIMIZE rewrite physically sheds them. Same refusals as
    * [[renameColumn]], plus the last remaining column. The dropped
    * name is retired permanently (never reusable — see disjointness).
    */
  def dropColumn(spark: SparkSession, table: String, column: String): Unit = {
    requireRenamable(spark, table, column, "drop")
    val phys = snapshotSchema(spark, table, None)
    val logical = logicalizeSchema(table, phys).fieldNames.toSet
    require(logical.contains(column), s"column $column does not exist in $table")
    require(logical.size > 1, s"cannot drop the last column of $table")
    writeColMap(table, columnMap(table) + (physName(table, column) -> ""))
  }

  /** Resolve a LOGICAL nested path against the head schema: returns the
    * physical dotted path, the physical parent struct, and the LOGICAL
    * sibling names at the leaf's level. The spine must be STRUCTs all
    * the way down — renames/drops inside array elements or map values
    * are refused (the frame translation rebuilds struct expressions
    * only), unlike nested ADD, which is append-only and can ride the
    * schema union through any spine.
    */
  private def resolveNestedPath(
      spark: SparkSession, table: String, path: Seq[String])
      : (String, org.apache.spark.sql.types.StructType, Set[String]) = {
    import org.apache.spark.sql.types.StructType
    val seg = segmentL2P(table)
    val m = columnMap(table)
    val physTop = snapshotSchema(spark, table, None)
    var parentPhys = ""
    var cursor: StructType = physTop
    // descend to the PARENT struct, translating each logical segment
    path.init.foreach { s =>
      val phys = seg.getOrElse((parentPhys, s), s)
      val p = if (parentPhys.isEmpty) phys else s"$parentPhys.$phys"
      require(!m.get(p).contains(""),
        s"cannot resolve ${path.mkString(".")} in $table: $s is dropped")
      val f = cursor.fields.find(_.name == phys).getOrElse(
        throw new IllegalArgumentException(
          s"no column ${path.mkString(".")} in $table: $s not found"))
      cursor = f.dataType match {
        case st: StructType => st
        case other => throw new IllegalArgumentException(
          s"cannot rename/drop inside ${path.mkString(".")}: $s is $other, " +
            "not a struct (struct spines only)")
      }
      parentPhys = p
    }
    val leafPhys = seg.getOrElse((parentPhys, path.last), path.last)
    val physPath = if (parentPhys.isEmpty) leafPhys else s"$parentPhys.$leafPhys"
    // logical siblings: the parent struct's fields under their logical
    // names (drops removed)
    val pp = parentPhys
    val logicalSiblings = cursor.fields.flatMap { f =>
      val p = if (pp.isEmpty) f.name else s"$pp.${f.name}"
      m.get(p) match {
        case Some("") => None
        case e        => Some(e.getOrElse(f.name))
      }
    }.toSet
    (physPath, cursor, logicalSiblings)
  }

  /** Nested ALTER TABLE RENAME COLUMN (`meta.lang` → `meta.lang_code`),
    * metadata-only like the top-level form: one column-map entry keyed
    * by the physical DOTTED path. No data file is touched at any scale;
    * every snapshot (time travel included) reads back under the new
    * name; zone maps, row-group leaves, and bloom filters keep working
    * because they key physical names, which never change. The same
    * disjointness invariant applies PER SCOPE: the new name may not
    * collide with any live logical or any current/retired physical
    * field name of the same parent struct.
    */
  def renameColumnPath(
      spark: SparkSession, table: String, path: Seq[String], to: String): Unit = {
    require(path.nonEmpty, "rename needs a column path")
    if (path.length == 1) { renameColumn(spark, table, path.head, to); return }
    require(versions(table).nonEmpty, s"no committed versions at $table")
    require(!to.contains('.'),
      s"invalid field name $to: dots are reserved for nested paths")
    val dotted = path.mkString(".")
    constraints(table).foreach { case (n, e) =>
      require(s"\\b${java.util.regex.Pattern.quote(dotted)}\\b".r
          .findFirstIn(e).isEmpty,
        s"cannot rename $dotted: CHECK constraint $n references it ($e) — " +
          "drop the constraint first")
    }
    val (physPath, parentStruct, logicalSiblings) =
      resolveNestedPath(spark, table, path)
    val m = columnMap(table)
    require(logicalSiblings.contains(path.last),
      s"field $dotted does not exist in $table")
    require(!logicalSiblings.contains(to),
      s"field ${path.init.mkString(".")}.$to already exists in $table")
    val leafPhys = physPath.substring(physPath.lastIndexOf('.') + 1)
    val parentPhys = physPath.substring(0, physPath.lastIndexOf('.'))
    val mappedLeaves = m.keysIterator
      .filter(k => k.startsWith(parentPhys + ".") &&
        k.indexOf('.', parentPhys.length + 1) < 0)
      .map(_.substring(parentPhys.length + 1)).toSet
    require(leafPhys == to ||
        (!parentStruct.fieldNames.contains(to) && !mappedLeaves.contains(to)),
      s"cannot rename $dotted to $to: $to is (or was) a physical field " +
        s"name of that struct — pick a name never used at this level")
    writeColMap(table, if (leafPhys == to) m - physPath else m + (physPath -> to))
  }

  /** Nested ALTER TABLE DROP COLUMN, metadata-only: marks the struct
    * field dropped in the map. Files keep the bytes (nested schema
    * pruning means they are never decoded again); new files are written
    * WITHOUT the field, and the r17 evolution-gap machinery serves the
    * mixed generations columnar. The dropped path is retired permanently
    * (per-scope disjointness). Refused for the struct's last live field
    * — drop the whole column instead.
    */
  def dropColumnPath(
      spark: SparkSession, table: String, path: Seq[String]): Unit = {
    require(path.nonEmpty, "drop needs a column path")
    if (path.length == 1) { dropColumn(spark, table, path.head); return }
    require(versions(table).nonEmpty, s"no committed versions at $table")
    val dotted = path.mkString(".")
    constraints(table).foreach { case (n, e) =>
      require(s"\\b${java.util.regex.Pattern.quote(dotted)}\\b".r
          .findFirstIn(e).isEmpty,
        s"cannot drop $dotted: CHECK constraint $n references it ($e) — " +
          "drop the constraint first")
    }
    val (physPath, _, logicalSiblings) = resolveNestedPath(spark, table, path)
    require(logicalSiblings.contains(path.last),
      s"field $dotted does not exist in $table")
    require(logicalSiblings.size > 1,
      s"cannot drop the last field of struct ${path.init.mkString(".")} — " +
        "drop the whole column instead")
    writeColMap(table, columnMap(table) + (physPath -> ""))
  }

  /** Gate for ADD COLUMN under a mapping: a fresh column's name (which
    * becomes its physical name) must not collide with any live logical,
    * current physical, or retired physical name.
    */
  private[graft] def requireFreshColumnName(
      table: String, name: String,
      physSchema: org.apache.spark.sql.types.StructType): Unit = {
    val m = columnMap(table)
    require(!physSchema.fieldNames.contains(name) && !m.contains(name) &&
        !m.valuesIterator.contains(name),
      s"cannot add column $name to $table: the name is in use (or was " +
        "used by a renamed/dropped column and is permanently retired)")
  }

  /** Read a snapshot (latest when `version` is None). The returned plan
    * scans exactly the manifest's data files; any tombstone entries are
    * applied as an anti-join of doomed keys against the data commits
    * they are bounded to (delete frames are key-only and typically
    * broadcast). Later commits are invisible (snapshot isolation),
    * earlier versions stay readable (time travel). Renamed/dropped
    * columns ([[renameColumn]]) surface under their LOGICAL names.
    */
  def read(spark: SparkSession, table: String, version: Option[Long] = None): DataFrame =
    read(spark, table, version, mergeSchema = false)

  /** As [[read]], with opt-in SCHEMA EVOLUTION: `mergeSchema = true`
    * unions the column sets of every data commit in the snapshot, so a
    * later append that ADDED a column reads back with nulls for the
    * older files (additive evolution, the parquet mergeSchema
    * semantics). Off by default — schema merging footers costs a
    * metadata pass, and a fixed-schema table shouldn't pay it.
    */
  def read(
      spark: SparkSession, table: String, version: Option[Long],
      mergeSchema: Boolean): DataFrame =
    logicalizeFrame(table,
      snapshotFrame(spark, table, pinnedEntries(table, version), mergeSchema))

  private def pinnedEntries(table: String, version: Option[Long]): Seq[String] = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions at $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    manifestEntries(table, v)
  }

  /** Deletion-vector identity columns: [[scan]] tags each row with its
    * file (the path below `data/`, [[dvKeyOf]]'s form) and its row
    * ordinal in that file.
    */
  private val DvFile = "_graft_dv_file"
  private val DvPos = "_graft_dv_pos"

  /** The one data-file scan of a versioned table: data files and
    * tombstone files (`files`, table-relative manifest paths) are read
    * here and nowhere else.
    *  - Schema: pure footer inference when the files belong to ONE commit
    *    (zero extra footer work); the commit-union schema (one memoized
    *    footer per commit, [[unionSchemas]]) when they span several or
    *    `mergeSchema` asks for additive evolution. A WIDENED column
    *    (INT->BIGINT across commits) needs the wide type declared, or
    *    inference would take one file's narrow type and misread the others.
    *  - Parquet's DICTIONARY row-group filter is always off. Its evaluator
    *    compares doubles by TOTAL order: a pushed eq(+0.0) against an
    *    all--0.0 dictionary drops the whole group, silently losing rows
    *    Spark's own comparison (-0.0 == 0.0) would match (reproduced on
    *    vanilla Spark 4.1). Statistics filtering is zero-widened at write
    *    and stays on — the dictionary evaluator is the one unsound layer.
    *    The catalog scan builds its own zero-widened FilterPredicate
    *    (never an Eq leaf on ±0.0), which every evaluator handles soundly.
    *  - `tagged` adds [[DvFile]] and [[DvPos]] from the parquet source's
    *    own `_metadata` — on the scan itself, because metadata columns do
    *    not survive joins.
    */
  private def scan(
      spark: SparkSession, table: String, files: Seq[String],
      mergeSchema: Boolean = false, tagged: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val reader =
      if (!mergeSchema && files.map(dataCommitOf).distinct.size <= 1)
        spark.read.option("mergeSchema", false)
      else spark.read.schema(files.groupBy(dataCommitOf).toSeq.sortBy(_._1)
        .map(c => commitSchemaOf(spark, table, c._2.min))
        .reduce(unionSchemas(table, _, _)))
    val df = reader.option("parquet.filter.dictionary.enabled", "false")
      .parquet(files.map(Paths.get(table, _).toString): _*)
    if (!tagged) df
    else df.withColumn(DvFile, regexp_extract(col("_metadata.file_path"), ".*/data/(.*)$", 1))
      .withColumn(DvPos, col("_metadata.row_index"))
  }

  /** The scan of a pinned entry set: the manifest's data files, with any
    * tombstone entries applied as anti-joins against the data commits
    * they are bounded to — each (key column, key type) group of equality
    * tombstones on its own key, then the deletion vectors on
    * ([[DvFile]], [[DvPos]]). `tagged` keeps those two columns on the
    * surviving rows, which is how [[deleteWhereCow]] learns the files
    * its matches live in.
    */
  private def snapshotFrame(
      spark: SparkSession, table: String, entries: Seq[String],
      mergeSchema: Boolean, tagged: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dataE = entries.filterNot(isDeleteEntry).map(entryPath)
    val delE = entries.filter(isDeleteEntry).map { e =>
      (e.split(":", 3)(1).toLong, entryPath(e))
    }
    if (delE.isEmpty) scan(spark, table, dataE, mergeSchema, tagged)
    else
      dataE.groupBy(dataCommitOf).toSeq.sortBy(_._1).map { case (c, files) =>
        val applicable = delE.collect { case (b, p) if b >= c => p }
        val (posDel, eqDel) = applicable.partition(isPosDeleteFile)
        val df = scan(spark, table, files, mergeSchema, tagged || posDel.nonEmpty)
        val keyed = eqDel.map { p =>
          val f = commitSchemaOf(spark, table, p).fields.head
          (f.name, f.dataType) -> p
        }
        val afterEq = keyed.map(_._1).distinct.foldLeft(df) { case (acc, key @ (k, _)) =>
          val doomed = scan(spark, table, keyed.filter(_._1 == key).map(_._2))
          acc.join(doomed.select(k).distinct(), Seq(k), "left_anti")
        }
        if (posDel.isEmpty) afterEq
        else {
          val kept = afterEq.join(
            scan(spark, table, posDel).select(col("_file").as(DvFile), col("_pos").as(DvPos)),
            Seq(DvFile, DvPos), "left_anti")
          if (tagged) kept else kept.drop(DvFile, DvPos)
        }
      }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Manifest-level file skipping: of a snapshot's data entries, how many
    * survive the zone-map prune for `lo <= column <= hi` — (kept, total).
    * Exposed so callers (and the spec) can assert that a range read is
    * metadata-pruned without touching `df.inputFiles`.
    */
  def pruneCount(
      table: String, version: Option[Long], column: String,
      lo: Long, hi: Long): (Int, Int) =
    pruneCountBounds(table, version, Seq((column, lo, hi)))

  /** Data-skipping range read: `read` restricted to `lo <= column <= hi`,
    * with files PRUNED FROM THE MANIFEST ALONE — a data file whose
    * commit-time zone map ([[commit]]'s `statsCols`) positively excludes
    * the range never reaches the scan, before Spark lists, opens, or
    * schedules it. This is the Iceberg/Delta data-skipping pattern one
    * level above parquet row-group stats (which still require opening
    * every footer): at 100 TB with range-clustered commits, a narrow
    * range read plans over a handful of files instead of 800k. Files
    * without stats for `column` are kept (never pruned), and the real
    * filter is still applied after the scan, so the result equals
    * `read(...).filter(...)` exactly regardless of how data is laid out.
    * Tombstones keep their normal semantics: a pruned data file cannot
    * contribute rows, and kept files still anti-join their applicable
    * delete entries.
    */
  def readWhere(
      spark: SparkSession, table: String, version: Option[Long],
      column: String, lo: Long, hi: Long,
      mergeSchema: Boolean = false): DataFrame =
    readWhereBounds(spark, table, version, Seq((column, lo, hi)), mergeSchema)

  /** Incremental consumption, additive side: the data rows added by the
    * commits in `(fromVersion, toVersion]`, each stamped with its
    * `_commit_version` — the table_changes surface a downstream consumer
    * polls with a checkpointed version cursor instead of rescanning
    * snapshots. Requires every commit in the range to be additive
    * (append or delete): an overwrite invalidates incremental
    * consumption by construction, so it fails loudly rather than
    * silently re-emitting the world.
    */
  def appendsBetween(
      spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val frames = rangeCommits(table, fromVersion, toVersion).flatMap {
      case (w, fresh) =>
        val data = fresh.filterNot(isDeleteEntry).map(entryPath)
        if (data.isEmpty) None
        else Some(scan(spark, table, data)
          .withColumn("_commit_version",
            org.apache.spark.sql.functions.lit(w)))
    }
    require(frames.nonEmpty,
      s"no appended rows in ($fromVersion, $toVersion] of $table")
    logicalizeFrame(table, frames.reduce(_ unionByName _))
  }

  /** Incremental consumption, removal side: the tombstoned keys of the
    * delete commits in `(fromVersion, toVersion]`, stamped with their
    * `_commit_version`.
    */
  def deletesBetween(
      spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val frames = rangeCommits(table, fromVersion, toVersion).flatMap {
      case (w, fresh) =>
        deletedFrames(spark, table, fresh.filter(isDeleteEntry))
          .map(_.withColumn("_commit_version",
            org.apache.spark.sql.functions.lit(w)))
    }
    require(frames.nonEmpty,
      s"no deletes in ($fromVersion, $toVersion] of $table")
    logicalizeFrame(table,
      frames.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** The delete side of one commit's `delete` entries: equality
    * tombstones keep their key-only rendering, while a POSITIONAL delete
    * names positions, not keys — it reconstructs the full deleted ROWS
    * ([[posDeletedRows]]; a superset of any key column).
    */
  private def deletedFrames(
      spark: SparkSession, table: String, delete: Seq[String]): Seq[DataFrame] = {
    val (pos, eq) = delete.partition(e => isPosDeleteFile(entryPath(e)))
    val eqF =
      if (eq.isEmpty) None
      else Some(scan(spark, table, eq.map(entryPath)))
    val posF =
      if (pos.isEmpty) None
      else Some(posDeletedRows(spark, table, pos.map(entryPath),
        pos.head.split(":", 3)(1).toLong))
    eqF.toSeq ++ posF.toSeq
  }

  /** The full data rows a positional delete commit removed: the deletion
    * vector's (file, position) pairs semi-joined back onto exactly the
    * data files it references in its basis snapshot — the change-feed
    * rendering of a positional delete. Distributed end to end: only the
    * referenced files are scanned; the driver touches file NAMES only
    * (file-cardinality, not row-cardinality).
    */
  private def posDeletedRows(
      spark: SparkSession, table: String, dvRel: Seq[String],
      bound: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dv = scan(spark, table, dvRel)
    val refKeys = dv.select("_file").distinct()
      .collect().map(_.getString(0)).toSet
    val files = manifestEntries(table, bound)
      .filterNot(isDeleteEntry).map(entryPath)
      .filter(p => refKeys.contains(dvKeyOf(p)))
    require(files.nonEmpty,
      s"deletion vector of $table references no file of snapshot $bound")
    scan(spark, table, files, tagged = true)
      .join(dv.select(col("_file").as(DvFile), col("_pos").as(DvPos)),
        Seq(DvFile, DvPos), "left_semi")
      .drop(DvFile, DvPos)
  }

  /** Delta-style `table_changes`: ONE frame unifying the additive and
    * removal sides of `(fromVersion, toVersion]` — every data column
    * (null-filled on delete rows except the tombstone key), plus
    * `_change_type` ('insert'/'delete') and `_commit_version`. This is
    * the SQL-front-door CDF surface ([[graft.functions.GraftExtensions]]
    * registers it as the table function
    * `table_changes('path-or-cat.ns.t', v1, v2)`); the split
    * [[appendsBetween]]/[[deletesBetween]] forms remain for programmatic
    * consumers that want the sides separately. Fails loudly across any
    * non-additive commit, exactly like them.
    */
  def tableChanges(
      spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val commits = rangeCommits(table, fromVersion, toVersion)
    def side(delete: Boolean): Seq[DataFrame] = commits.flatMap {
      case (w, fresh) =>
        val own = fresh.filter(e => isDeleteEntry(e) == delete)
        val base: Option[DataFrame] =
          if (!delete) {
            val paths = own.map(entryPath)
            if (paths.isEmpty) None
            else Some(scan(spark, table, paths))
          } else deletedFrames(spark, table, own)
            .reduceOption(_.unionByName(_, allowMissingColumns = true))
        base.map(_.withColumn("_change_type",
            lit(if (delete) "delete" else "insert"))
          .withColumn("_commit_version", lit(w)))
    }
    val frames = side(delete = false) ++ side(delete = true)
    require(frames.nonEmpty,
      s"no changes in ($fromVersion, $toVersion] of $table")
    val all = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    // stable output order: data columns in snapshot-schema order, then
    // the two metadata columns
    val schema = snapshotSchema(spark, table, Some(toVersion))
    val ordered = schema.fieldNames.filter(all.columns.contains).toSeq ++
      Seq("_change_type", "_commit_version")
    logicalizeFrame(table, all.select(ordered.map(col): _*))
  }

  /** The fresh entries of each commit in `(from, to]`, oldest first,
    * failing on any non-additive (overwrite) commit in the range.
    */
  private def rangeCommits(
      table: String, from: Long, to: Long): Seq[(Long, Seq[String])] = {
    val vs = versions(table)
    require(vs.contains(to) && (from == 0L || vs.contains(from)) && from < to,
      s"bad version range ($from, $to] for versions $vs")
    vs.filter(w => w > from && w <= to).map { w =>
      val cur = manifestEntries(table, w)
      // versions are allocated consecutively from 1, so the only commit
      // with no predecessor is 1 itself. A missing w-1 manifest for
      // w > 1 means it was VACUUMED — treating it as empty would
      // classify the whole carried snapshot as fresh and silently
      // re-emit it; fail loudly instead (the loud-failure contract
      // below is only as good as this check).
      require(w == 1L || vs.contains(w - 1),
        s"cannot compute the fresh entries of commit $w of $table: its " +
          s"predecessor manifest ${w - 1} has been vacuumed — start the " +
          "range at a retained version")
      val prev = if (w == 1L) Seq.empty else manifestEntries(table, w - 1)
      require(prev.forall(cur.contains),
        s"commit $w of $table is non-additive (overwrite or copy-on-write " +
          "replace) — incremental consumption is only defined over " +
          "append/delete commits")
      w -> cur.filterNot(prev.toSet)
    }
  }

  /** Reclaim ORPHANED commit directories: `data/` children referenced by
    * NO manifest and older than the grace period — the debris a writer
    * leaves when it crashes between staging its files and publishing its
    * manifest (crashed `c<N>_<token>` attempts, dead `_stg_*` staging
    * directories). Published data is never touched: the referenced set is
    * taken across ALL retained manifests. The grace period is the
    * correctness knob — it must exceed the longest conceivable
    * stage-to-publish window, because a still-alive writer's directory
    * is distinguishable from a crashed one's only by age (the same
    * retention contract as Delta's VACUUM on unreferenced files).
    * Returns the number of directories removed. Complements [[vacuum]],
    * which reclaims EXPIRED-version files; this reclaims NEVER-committed
    * ones.
    */
  /** RESTORE: publish a new head whose snapshot equals `toVersion`'s —
    * the rollback primitive (the operation Delta spells
    * `RESTORE TABLE t TO VERSION AS OF n`). Metadata-only: the new head
    * is a SELF-CONTAINED manifest re-listing the target's resolved
    * entries verbatim (data files, tombstones, footer counts, and zone
    * maps all ride along unchanged), so no data file is read, written,
    * or moved and the cost is O(snapshot files) manifest lines at any
    * data scale. The restored commit resets the carry chain — it
    * classifies as an overwrite, so incremental consumers
    * ([[appendsBetween]]) refuse to silently cross it, exactly as they
    * refuse any overwrite — and because the old files become referenced by the NEW head,
    * [[vacuum]] retains them for as long as the restore itself is
    * retained. Publish is optimistic: on losing the version race the
    * restore retries against the new head (restore is point-in-time,
    * not head-derived, so there is no basis to invalidate — last
    * restore wins, which is the Delta behavior too). Fails loudly when
    * `toVersion` was vacuumed or never existed. Bucket layouts survive
    * unchanged: entries transfer verbatim, so a bucketed snapshot
    * restores to the identical co-located layout.
    */
  def restore(table: String, toVersion: Long): Long = {
    require(versions(table).contains(toVersion),
      s"cannot restore $table to version $toVersion: not a retained " +
        s"version (retained: ${versions(table).mkString(", ")})")
    val entries = manifestEntries(table, toVersion)
    // header lines are version-independent — compute once, not per
    // CAS attempt (a restore manifest is self-contained: O(all files))
    val statHeader = rollupLines(entries) ++ schemaLines(table, entries)
    while (true) {
      val next = versions(table).lastOption.getOrElse(0L) + 1L
      if (tryPublish(table, next, entries, None, carry = None,
          statHeader = Some(statHeader))) return next
    }
    throw new IllegalStateException("unreachable")
  }

  /** CLONE: create `dst` as an INDEPENDENT table whose version-1
    * snapshot equals `src`'s snapshot at `version` (default: head).
    * Every data and tombstone file is HARD-LINKED at the SAME relative
    * path (copied only where the filesystem refuses links), so manifest
    * entries transfer verbatim — footer counts, zone maps, and the
    * commit-number tombstone scoping embedded in the paths included —
    * and not one row is decoded or rewritten: the cost is one metadata
    * op per file, O(snapshot files), at any data scale. Unlike a pure
    * manifest-referencing shallow clone (Delta's), the links keep the
    * BYTES alive on their own: vacuuming — or dropping — the source can
    * never break the clone, and vice versa, because each side's
    * reclamation only unlinks its own names. (On an object store
    * without links the same protocol degrades to server-side copy,
    * still zero-decode.) CHECK constraints and the bucket-layout spec
    * carry over — they describe the data being cloned; the clone's
    * history starts fresh at version 1 (its manifest is
    * self-contained). Fails loudly if `dst` already exists or `version`
    * is not retained; concurrent clones onto one target race on the
    * version-1 CAS — one wins, the rest fail loudly.
    */
  def cloneTable(src: String, dst: String, version: Option[Long] = None): Long = {
    require(versions(src).nonEmpty, s"cannot clone nonexistent table $src")
    require(versions(dst).isEmpty, s"clone target $dst already exists")
    val entries = pinnedEntries(src, version)
    entries.map(entryPath).foreach { rel =>
      val from = Paths.get(src, rel)
      val to = Paths.get(dst, rel)
      Files.createDirectories(to.getParent)
      try { Files.createLink(to, from); () }
      catch {
        // cross-device targets surface as FileSystemException; a
        // concurrent clone's FileAlreadyExists then fails the copy loudly
        case _: UnsupportedOperationException | _: SecurityException |
             _: java.nio.file.FileSystemException =>
          Files.copy(from, to); ()
      }
    }
    // the referenced commit dirs' .ndv.txt sidecars ride along, so the
    // clone keeps its planner column statistics (hard-linked like data)
    entries.map(entryPath(_).split("/")(1)).distinct.foreach { dir =>
      val f = ndvFile(src, dir)
      if (Files.exists(f)) {
        val t = ndvFile(dst, dir)
        try { Files.createLink(t, f); () }
        catch {
          case _: UnsupportedOperationException | _: SecurityException |
               _: java.nio.file.FileSystemException =>
            if (!Files.exists(t)) { Files.copy(f, t); () }
        }
      }
    }
    Files.createDirectories(manifestDir(dst))
    Seq(constraintsFile(src) -> constraintsFile(dst),
        bucketSpecFile(src) -> bucketSpecFile(dst),
        colMapFile(src) -> colMapFile(dst),
        clusterSpecFile(src) -> clusterSpecFile(dst),
        identitySpecFile(src) -> identitySpecFile(dst),
        propsFile(src) -> propsFile(dst)).foreach { case (f, t) =>
      if (Files.exists(f)) { Files.copy(f, t); () }
    }
    require(tryPublish(dst, 1L, entries, None, carry = None),
      s"clone target $dst was created concurrently")
    1L
  }

  def vacuumOrphans(table: String, olderThanMillis: Long): Int = {
    val dataRoot = Paths.get(table, "data")
    if (!Files.isDirectory(dataRoot)) return 0
    val referenced: Set[String] = versions(table)
      .flatMap(manifestEntries(table, _)).map(entryPath(_).split("/")(1)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val doomed = usingPaths(Files.list(dataRoot))(_.filter { p =>
      !referenced.contains(p.getFileName.toString) &&
        Files.getLastModifiedTime(p).toMillis < cutoff
    }.toSeq)
    doomed.foreach(deleteRecursively)
    doomed.size
  }

  /** Drop the table: delete its directory tree AND invalidate this JVM's
    * resolved-entry cache for the path. The cache assumes a published
    * `(table, version)` manifest is immutable forever — true under the
    * commit protocol, but NOT under out-of-band recreation at the same
    * path, where a recreated table's version N could silently read the
    * dropped table's cached entries. Dropping through this method (not
    * a bare directory delete) is what keeps that invariant.
    */
  def dropTable(table: String): Unit = {
    deleteRecursively(Paths.get(table))
    resolvedEntries.keySet.removeIf(_._1 == table)
    parsedSnapshots.keySet.removeIf(_._1 == table)
    headerCache.keySet.removeIf(_._1 == table)
    ownEntriesCache.keySet.removeIf(_._1 == table)
    chainFoldCache.keySet.removeIf(_._1 == table)
    ndvCache.keySet.removeIf(_._1 == table)
    commitSchemas.keySet.removeIf(_._1 == table)
    ()
  }

  /** Expire all but the newest `retain` versions: delete their manifests
    * and any data/tombstone file no retained manifest references.
    * Returns the number of files deleted. Retained snapshots remain
    * exactly readable — vacuum never touches a referenced file.
    *
    * Concurrent-reader contract: a DataFrame already pinned to an
    * expired snapshot fails LOUDLY at execution time
    * (`FileNotFoundException` from the parquet scan) once its files are
    * reclaimed — never a silently partial result — because a missing
    * input is an error under `spark.sql.files.ignoreMissingFiles=false`
    * (the Spark default; do not enable that flag for versioned-table
    * paths). Re-planning the expired version fails immediately at
    * manifest lookup. Pinned after-vacuum behavior is spec-tested.
    */
  /** MATERIALIZE one version's manifest in place: self-contained (no
    * carry pointer), freshly indexed, with the CHAIN's accumulated
    * rollup/schema hints re-emitted for every directory the resolved
    * list still references — ALL cell families (long / `s~` string /
    * `b~` membership), so commit-level pruning never degrades across
    * the rewrite. The rewrite is entry-identical (same resolved list,
    * non-derived headers preserved) and atomically replaced, so pinned
    * readers and the resolved-entry cache stay valid. Shared by
    * [[vacuum]] (a retained manifest whose chain reaches an expired
    * predecessor must stop depending on it) and [[checkpoint]] (chain
    * reset without expiring anything).
    */
  private def materializeManifest(table: String, v: Long): Unit = {
    val resolved = manifestEntries(table, v)
    // carry/rollup/schema/index headers are all re-derived below —
    // index offsets in particular would be STALE against the
    // rewritten entry layout
    val headers = manifestLines(table, v).tail.takeWhile(isHeader)
      .filterNot(l => l.startsWith("carry=") ||
        l.startsWith("rollup=") || l.startsWith("schema=") ||
        l.startsWith("index=") || l.startsWith("total=") ||
        l.startsWith("delta="))
    val liveDirs = resolved.filterNot(isRemoveEntry)
      .map(e => entryPath(e).split('/')(1)).toSet
    val (rolls, schemas, strRolls, memberRolls) =
      persistedHeaders(table, Some(v))
    val enc = java.util.Base64.getEncoder.withoutPadding
    val rollDirs = (rolls.keySet ++ strRolls.keySet ++
      memberRolls.keySet).filter(liveDirs.contains).toSeq.sorted
    val hints =
      rollDirs.flatMap { dir =>
        val cells =
          rolls.getOrElse(dir, Map.empty).toSeq.sortBy(_._1)
            .map { case (c, (mn, mx)) => s"$c=$mn..$mx" } ++
          strRolls.getOrElse(dir, Map.empty).toSeq.sortBy(_._1)
            .map { case (c, (lo, hi)) =>
              s"s~$c=${enc.encodeToString(lo)}.." +
                hi.map(enc.encodeToString).getOrElse("")
            } ++
          memberRolls.getOrElse(dir, Map.empty).toSeq.sortBy(_._1)
            .map { case (c, b) => s"b~$c=${enc.encodeToString(b)}" }
        if (cells.isEmpty) None
        else Some(s"rollup=$dir ${cells.mkString(";")}")
      } ++
      schemas.filter(kv => liveDirs.contains(kv._1)).toSeq.sortBy(_._1)
        .map { case (dir, st) => s"schema=$dir ${st.json}" }
    // the materialized manifest is self-contained — give it a fresh
    // indexed entry segment so cold selective plans keep seeking
    val (body, idxLines) = indexedEntryLayout(resolved)
    val totalLine = s"total=${resolved.count(e => !isDeleteEntry(e))}"
    replaceFile(manifestDir(table).resolve(s"$v.manifest"),
      (s"version=$v" +: headers) ++ (totalLine +: hints) ++ idxLines ++ body)
    // byte-offset memos (header positions, seek blocks) are STALE
    // against the rewritten file — drop them for this version; the
    // entry-SET memos stay valid (the rewrite is entry-identical).
    // ownEntriesCache drops too: materialization turns v
    // self-contained, so its OWN entries are now the full resolved
    // list, not the fresh slice the carry-era cache holds (walks
    // never read own entries of a base, but stale content must not
    // outlive the shape change)
    headerCache.remove((table, v))
    ownEntriesCache.remove((table, v))
    // COARSE: materialization reshapes the chain at v — newer
    // versions' fold memos (chainown's base pointer in particular)
    // were computed through the old shape. Materialization is rare;
    // one re-walk re-seeds them.
    chainFoldCache.keySet.removeIf(_._1 == table)
    parsedSnapshots.keySet.removeIf(k => k._1 == table && k._2 == v &&
      k._3.startsWith("rawdir:"))
  }

  /** CHECKPOINT: materialize the HEAD manifest in place — WITHOUT
    * expiring any version. The non-destructive chain reset (what Delta's
    * log checkpoint does): cold planning of the head, and of every
    * future append built on it, stops walking the accumulated carry
    * chain (~0.1 ms per chain version of one-time cold cost; SCALING.md
    * round 19 "ingest steady state"), while every older version stays exactly
    * time-travelable — unlike [[vacuum]], whose materialization is tied to
    * expiry.
    * Returns the checkpointed head version. No-op (returning the head)
    * when it is already self-contained.
    */
  def checkpoint(table: String): Long = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no committed versions at $table")
    val head = vs.last
    if (carryOf(table, head).isDefined) materializeManifest(table, head)
    head
  }

  /** Carry-chain length of version `v`'s manifest: how many carry hops
    * stand between it and its self-contained base (0 = self-contained).
    * Header-cache walk, O(chain) map probes.
    */
  private[sources] def chainLength(table: String, v: Long): Int = {
    var n = 0
    var cur = carryOf(table, v)
    while (cur.isDefined) { n += 1; cur = carryOf(table, cur.get) }
    n
  }

  def vacuum(table: String, retain: Int): Int = {
    require(retain >= 1, "must retain at least one version")
    val vs = versions(table)
    val (expired, kept) = vs.splitAt(math.max(0, vs.length - retain))
    // MATERIALIZE first: a retained manifest whose carry chain reaches an
    // expired version must become self-contained before that predecessor
    // manifest is deleted, or the chain would dangle. The rewrite is
    // entry-identical (same resolved list, headers preserved minus the
    // carry pointer) and atomically replaced, so pinned readers and the
    // resolved-entry cache stay valid — this is the checkpointing step
    // Delta's log checkpoints perform, folded into vacuum.
    val expiredSet = expired.toSet
    kept.foreach { v =>
      def chainCrosses(w: Long): Boolean = carryOf(table, w) match {
        case Some(prev) => expiredSet.contains(prev) || chainCrosses(prev)
        case None       => false
      }
      if (chainCrosses(v)) materializeManifest(table, v)
    }
    val keep = kept.flatMap(manifestEntries(table, _)).map(entryPath).toSet
    val doomed =
      expired.flatMap(manifestEntries(table, _)).map(entryPath).toSet -- keep
    doomed.foreach(f => Files.deleteIfExists(Paths.get(table, f)))
    expired.foreach(v =>
      Files.deleteIfExists(manifestDir(table).resolve(s"$v.manifest")))
    // expired versions can never be resolved again — release their cached
    // entry lists (each is O(snapshot files); a long-lived driver that
    // vacuums on a schedule must not accumulate O(versions × files)),
    // and the footer-schema memos of the directories just reclaimed
    expired.foreach { v =>
      resolvedEntries.remove((table, v))
      parsedSnapshots.keySet.removeIf(k => k._1 == table && k._2 == v)
      headerCache.remove((table, v))
      ownEntriesCache.remove((table, v))
    }
    if (expired.nonEmpty) chainFoldCache.keySet.removeIf(_._1 == table)
    val doomedDirs = doomed.map(_.split('/')(1))
    commitSchemas.keySet.removeIf(k => k._1 == table && doomedDirs.contains(k._2))
    ndvCache.keySet.removeIf(k => k._1 == table && doomedDirs.contains(k._2))
    doomed.size
  }

  /** TIME-based retention (Delta's `RETAIN n HOURS`): expire every
    * version whose commit wall-time predates `cutoffMillis`, via
    * [[vacuum]]'s retain-newest-N semantics. The retained set is the
    * longest TRAILING run of versions at-or-after the cutoff (clock-step
    * safe: one regressed timestamp can only retain more, never expire a
    * newer version), and the head always survives. Pre-timestamp
    * manifests count as retained — unknown age never expires data.
    */
  def vacuumOlderThan(table: String, cutoffMillis: Long): Int = {
    val vs = versions(table)
    if (vs.isEmpty) return 0
    val keep = vs.reverse
      .takeWhile(v => commitTimestamp(table, v).forall(_ >= cutoffMillis))
      .size
    vacuum(table, math.max(1, keep))
  }
}

/** One column's commit-level statistics from the `.ndv.txt` sidecar: the
  * HLL sketch bytes plus, for string columns, (non-null count, summed
  * byte length, max byte length) — the inputs of the planner's
  * avgLen/maxLen estimates.
  */
private[sources] case class CommitColStat(
    sketch: Array[Byte], lenStats: Option[(Long, Long, Long)] = None)

/** One data file of a pinned snapshot, parsed once from its manifest
  * entry ([[VersionedTable.parseEntry]]): path, owning commit, the
  * tombstone files that apply to it, footer rows and bytes, integral
  * zones, non-null counts and string zones. The exact string sides and
  * the member blooms decode from the raw segments on first use and then
  * stay with the memoized entry, so each is decoded once per file and
  * only for plans that read it (member blooms: plans with member
  * probes). Every planner reads its files from [[VersionedTable.select]].
  */
private[sources] final case class FileEntry(
    path: String, commit: Long, tombstones: Seq[String],
    rows: Option[Long], bytes: Option[Long],
    zones: Map[String, (Long, Long)], nonNulls: Map[String, Long],
    strZones: Map[String, (Array[Byte], Option[Array[Byte]])],
    strSegment: String, bloomSegment: String) {

  /** The EXACT sides of the string zones: a side decodes to a value only
    * when it carries no truncation star — what MIN/MAX aggregate
    * pushdown needs (a truncated bound prunes soundly but is not the
    * extreme value itself).
    */
  lazy val strExact: Map[String, (Option[String], Option[String])] = {
    val dec = java.util.Base64.getDecoder
    def exact(tok: String): Option[String] =
      if (tok.isEmpty || tok.endsWith("*")) None
      else try Some(new String(dec.decode(tok), java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: IllegalArgumentException => None }
    strSegment.split(';').iterator.flatMap { kv =>
      val eq = kv.indexOf('=')
      val dots = kv.indexOf("..", eq + 1)
      if (eq <= 0 || dots < 0) None
      else Some(kv.substring(0, eq) ->
        (exact(kv.substring(eq + 1, dots)), exact(kv.substring(dots + 2))))
    }.toMap
  }

  /** col → bloom bytes over the file's distinct array elements (or map keys). */
  lazy val memberBlooms: Map[String, Array[Byte]] =
    VersionedTable.bloomCells(
      if (bloomSegment.isEmpty) Iterator.empty else bloomSegment.split(';').iterator)
}

/** One plan's pruning conjunction on PHYSICAL names: integral ranges
  * (sortable bits under `~col` for doubles), string byte ranges (either
  * side open) and member probe groups (each a disjunction of element
  * hashes). [[excludes]] is the one prune test — for single files
  * ([[admits]]) and for the rollup cells of commit dirs and index chunks
  * alike, since a cell bounds every row-carrying file under it.
  * Omission (no zone, no bloom) never excludes.
  */
final case class Prune(
    bounds: Map[String, (Long, Long)],
    strBounds: Map[String, (Option[Array[Byte]], Option[Array[Byte]])],
    memberProbes: Seq[(String, Seq[Long])]) {

  def isEmpty: Boolean = bounds.isEmpty && strBounds.isEmpty && memberProbes.isEmpty

  def excludes(
      zones: => Map[String, (Long, Long)],
      strZones: => Map[String, (Array[Byte], Option[Array[Byte]])],
      blooms: => Map[String, Array[Byte]]): Boolean =
    (bounds.nonEmpty && {
      val zs = zones
      bounds.exists { case (c, (lo, hi)) =>
        zs.get(c).exists { case (mn, mx) => mx < lo || mn > hi }
      }
    }) || (strBounds.nonEmpty && {
      val zs = strZones
      strBounds.exists { case (c, b) =>
        zs.get(c).exists(z => !GraftFilters.strZoneIntersects(z, b))
      }
    }) || (memberProbes.nonEmpty && {
      // a group survives when ANY of its hashes might be contained
      val bl = blooms
      memberProbes.exists { case (c, hs) =>
        bl.get(c).exists(b => hs.forall(h =>
          !graft.functions.MemberBloom.mightContain(b, h)))
      }
    })

  private[sources] def admits(f: FileEntry): Boolean =
    !excludes(f.zones, f.strZones, f.memberBlooms)
}

object Prune {
  val none: Prune = Prune(Map.empty, Map.empty, Nil)

  /** A conjunction of possibly repeated per-column ranges as one prune:
    * each column's intersection, since a zone meets every one of the
    * ranges exactly when it meets [max lo, min hi].
    */
  def conjunction(
      bounds: Seq[(String, Long, Long)],
      strBounds: Seq[(String, Option[Array[Byte]], Option[Array[Byte]])]): Prune = {
    val ord = Ordering.fromLessThan[Array[Byte]](VersionedTable.byteCompare(_, _) < 0)
    Prune(
      bounds.groupBy(_._1).map { case (c, bs) => c -> (bs.map(_._2).max, bs.map(_._3).min) },
      strBounds.groupBy(_._1).map { case (c, bs) =>
        c -> (bs.flatMap(_._2).maxOption(ord), bs.flatMap(_._3).minOption(ord))
      },
      Nil)
  }
}
