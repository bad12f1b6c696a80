package graft.meta

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Canonical-JSON sha256 hashing — the reference's self-validation
  * discipline (/root/reference/xcorr/util/hasher.py:106-319: hash the
  * sorted-key JSON of metadata, ignore the hash keys themselves) re-done
  * in Scala. Used for preprocess-config hashes stored in manifests and
  * table properties and revalidated before reuse
  * (/root/reference/xcorr/io/validate.py:136-202).
  */
object Hasher {
  val IgnoredKeys: Set[String] = Set("sha256_hash", "sha256_hash_metadata", "add_offset", "scale_factor")

  def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    d.map("%02x".format(_)).mkString
  }

  /** Deterministic JSON: sorted keys, no spaces. `forHashing=true` drops the
    * reference's ignored keys (hasher.py:22-26) so a stored hash never
    * hashes itself.
    */
  def json(v: Any, forHashing: Boolean = false): String = v match {
    case null            => "null"
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]]
        .filterNot { case (k, _) => forHashing && IgnoredKeys(k) }
        .toSeq.sortBy(_._1)
        .map { case (k, x) => s"${quote(k)}:${json(x, forHashing)}" }
        .mkString("{", ",", "}")
    case s: Seq[_]       => s.map(json(_, forHashing)).mkString("[", ",", "]")
    case s: String       => quote(s)
    case b: Boolean      => b.toString
    case d: Double       => if (d == d.toLong.toDouble) d.toLong.toString else d.toString
    case other           => other.toString
  }

  def canonicalJson(v: Any): String = json(v, forHashing = true)

  def hashObj(v: Any): String = sha256Hex(canonicalJson(v))

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
}

/** CF-1.9 global-attribute template preserved as table properties —
  * the reference requires institution/author/source and
  * Conventions=CF-1.9 on every dataset
  * (/root/reference/xcorr/core/init.py:106-151,
  * /root/reference/xcorr/util/metadata.py:26-77); BASELINE.json requires
  * them preserved as Iceberg-style table/snapshot properties.
  */
object Cf19 {
  def props(title: String, extra: Map[String, String] = Map.empty): Map[String, String] = {
    val base = Map(
      "title" -> title,
      "institution" -> "n/a",
      "author" -> "n/a",
      "source" -> "xcorrspark",
      "Conventions" -> "CF-1.9",
      "engine" -> "xcorrspark-0.1.0",
      "references" -> "https://github.com/psmsmets/xcorr (semantics reference)"
    ) ++ extra
    base + ("sha256_hash_metadata" -> Hasher.hashObj(base))
  }
}

/** Thin Iceberg-like table layer: a Parquet directory + a JSON properties
  * sidecar + append-only snapshot records. No Iceberg runtime jar ships in
  * this sandbox (SURVEY.md §7.0), so properties/snapshots emulate the
  * Iceberg semantics the north rule names (CF-1.9 attrs + commit history
  * as snapshot properties). The write itself follows the reference's
  * atomic tmp-file + rename pattern (/root/reference/xcorr/io/write.py:
  * 122-171) — via Hadoop `FileSystem`/`FileContext`, so the same code runs
  * against local disk, HDFS or an S3A-style object store (a `java.io.File`
  * layer would silently see nothing on cluster storage).
  */
object TableFormat {
  import java.nio.charset.StandardCharsets.UTF_8
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileContext, Options, Path}

  /** The active session's Hadoop conf when inside a Spark job; a default
    * conf (core-site.xml discovery) otherwise — keeps this layer usable
    * from plain JVM tools.
    */
  private def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def write(fsPath: Path, content: String): Unit = {
    val fs = fsPath.getFileSystem(conf)
    val out = fs.create(fsPath, true)
    try out.write(content.getBytes(UTF_8))
    finally out.close()
  }

  def writeProps(dir: String, props: Map[String, String]): Unit = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    fs.mkdirs(dirPath)
    val tmp = new Path(dirPath, "_table_properties.json.tmp")
    write(tmp, Hasher.json(props))
    // atomic replace (FileContext.rename OVERWRITE is the Hadoop-blessed
    // atomic-on-HDFS path; on local fs it maps to an atomic move)
    FileContext.getFileContext(dirPath.toUri, conf)
      .rename(tmp, new Path(dirPath, "_table_properties.json"), Options.Rename.OVERWRITE)
  }

  def readProps(dir: String): Map[String, String] = {
    val p = new Path(dir, "_table_properties.json")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    try parseFlat(new String(in.readAllBytes(), UTF_8))
    finally in.close()
  }

  /** Append a snapshot record (history lineage — the reference's
    * `historicize` strings, /root/reference/xcorr/util/history.py:25-55).
    * The commit log is APPEND-ONLY: the next index is max(existing)+1 (a
    * count would collide after a manual removal) and the rename refuses to
    * overwrite — a concurrent writer racing to the same index fails and
    * retries at the next index instead of silently replacing committed
    * history.
    *
    * FILESYSTEM CONTRACT: on schemes where rename-without-overwrite is
    * ATOMIC (HDFS, local fs) records get dense indexed names
    * (`snap-00042.json`) and a concurrent writer racing to the same index
    * fails its rename and retries at the next index. Object stores (s3a,
    * gs, abfs, ...) give no such guarantee, and a read-back check is TOCTOU
    * (both racers can verify before the other's copy lands) — so there each
    * record is committed under a UNIQUE name (`snap-t<epochMicros>-<uuid>`)
    * that no other writer can target, and commit order is derived at read
    * time from the lexicographic name sort (timestamp-prefixed, zero-
    * padded). Wall-clock order across writers is as good as their clock
    * skew — fine for history lineage, and no record can ever be lost. Don't
    * mix schemes on one _snapshots dir: indexed names sort before
    * timestamped ones. (The reference sidesteps all of this by being
    * single-writer per file, /root/reference/xcorr/io/write.py:31-184.)
    */
  def appendSnapshot(dir: String, record: Map[String, String]): Unit = {
    val snapDir = new Path(dir, "_snapshots")
    val fs = snapDir.getFileSystem(conf)
    fs.mkdirs(snapDir)
    val fc = FileContext.getFileContext(snapDir.toUri, conf)
    val atomicRename = Set("file", "hdfs", "viewfs", "webhdfs")
      .contains(Option(snapDir.toUri.getScheme).getOrElse(fs.getScheme))
    val payload = Hasher.json(record)
    if (!atomicRename) {
      // unique destination — collision-free by construction, single rename
      val us = System.currentTimeMillis() * 1000L + (System.nanoTime() / 1000L) % 1000L
      val dst = new Path(snapDir, f"snap-t$us%020d-${java.util.UUID.randomUUID()}.json")
      val tmp = new Path(snapDir, s".${dst.getName}.tmp")
      write(tmp, payload)
      fc.rename(tmp, dst)
      return
    }
    val snapIdx = "snap-(\\d+)\\.json".r
    // checkpoint covers count toward the high-water mark too: if the kept
    // cover record is ever manually removed, restarting from 0 would mint
    // names that sort inside a checkpoint's covered range and vanish from
    // reads (snapshots() skips names <= cover)
    def nextIndex(): Int = fs.listStatus(snapDir).flatMap(st =>
      st.getPath.getName match {
        case snapIdx(i)                      => Some(i.toInt)
        case n if ckptCover.isDefinedAt(n)   => ckptCover(n) match {
          case snapIdx(i) => Some(i.toInt)
          case _          => None
        }
        case _                               => None
      }).foldLeft(-1)(math.max) + 1
    var attempts = 0
    var committed = false
    while (!committed) {
      val n = nextIndex()
      val dst = new Path(snapDir, f"snap-$n%05d.json")
      val tmp = new Path(snapDir, s".snap-$n-${java.util.UUID.randomUUID()}.json.tmp")
      write(tmp, payload)
      try {
        fc.rename(tmp, dst) // NO overwrite — atomic on this scheme
        committed = true
      } catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          attempts += 1
          if (attempts > 100) throw e // pathological contention — surface it
      }
    }
  }

  /** List the snapshot records in commit order: the newest checkpoint's
    * contents (see [[compactSnapshots]]) followed by every raw record whose
    * name sorts strictly after the checkpoint's cover. Leftovers from a
    * compaction that crashed between checkpoint-commit and prune (older
    * checkpoints, already-covered raw records) are ignored here, never
    * double-counted — the next [[compactSnapshots]] call reclaims them.
    */
  def snapshots(dir: String): Seq[Map[String, String]] = {
    val snapDir = new Path(dir, "_snapshots")
    val fs = snapDir.getFileSystem(conf)
    if (!fs.exists(snapDir)) return Seq.empty
    historyFrom(snapDir, fs, fs.listStatus(snapDir).map(_.getPath.getName))
  }

  /** Effective history for ONE directory listing (the reader semantics and
    * the compactor's checkpoint content must agree on the same snapshot of
    * the listing, or a record appended between two listings lands both in
    * the checkpoint and after its cover — double-counted).
    */
  private def historyFrom(snapDir: Path, fs: org.apache.hadoop.fs.FileSystem,
      names: Array[String]): Seq[Map[String, String]] = {
    def readAll(p: Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    val cover = names.filter(ckptCover.isDefinedAt).map(ckptCover).sorted.lastOption
    val base = cover.toSeq.flatMap { c =>
      readAll(new Path(snapDir, ckptName(c))).split('\n').iterator
        .filter(_.nonEmpty).map(parseFlat).toSeq
    }
    base ++ names.filter(n => n.startsWith("snap-") && cover.forall(n > _))
      .sorted.toIndexedSeq
      .map(n => parseFlat(readAll(new Path(snapDir, n))))
  }

  private def ckptName(cover: String): String =
    s"ckpt-${cover.stripSuffix(".json")}.json"
  private val ckptCover: PartialFunction[String, String] = {
    val re = "ckpt-(snap-.+)\\.json".r;
    { case re(c) => c + ".json" }
  }

  /** Compact the `_snapshots` history: fold every committed record into ONE
    * checkpoint file (`ckpt-<lastCoveredName>.json`, JSONL in commit order
    * — records never contain raw newlines, [[Hasher.json]] escapes them)
    * and prune the covered per-record files. The history a [[snapshots]]
    * reader sees is IDENTICAL before and after; what changes is the file
    * count — an append-only manifest on a store that lists at O(files)
    * otherwise grows one object per job run forever.
    *
    * Crash/concurrency contract: the checkpoint commits first (tmp +
    * rename; its name is a pure function of the covered set, so a racing
    * compactor targets the same name with identical bytes — a lost rename
    * race is success), prunes happen only after the checkpoint is visible,
    * and the LAST covered record file is deliberately kept: on the
    * indexed-name scheme it preserves [[appendSnapshot]]'s max+1 high-water
    * mark (pruning it would recycle indices into names that sort inside the
    * covered range and vanish from reads). A crash mid-prune leaves
    * ignored-by-reader garbage that the next call reclaims; rerun-is-a-no-op.
    * Returns the number of files pruned.
    */
  def compactSnapshots(dir: String): Int = {
    val snapDir = new Path(dir, "_snapshots")
    val fs = snapDir.getFileSystem(conf)
    if (!fs.exists(snapDir)) return 0
    val fc = FileContext.getFileContext(snapDir.toUri, conf)
    val names = fs.listStatus(snapDir).map(_.getPath.getName)
    val rawSnaps = names.filter(_.startsWith("snap-")).sorted
    val covers = names.filter(ckptCover.isDefinedAt).map(ckptCover).sorted
    if (rawSnaps.isEmpty && covers.length <= 1) return 0 // nothing to fold or prune
    val newCover = (rawSnaps.lastOption ++ covers.lastOption).max
    val dst = new Path(snapDir, ckptName(newCover))
    if (!fs.exists(dst)) {
      // full effective history from the SAME listing the cover came from
      val records = historyFrom(snapDir, fs, names)
      val tmp = new Path(snapDir, s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
      write(tmp, records.map(Hasher.json(_)).mkString("\n"))
      try fc.rename(tmp, dst)
      catch { // a racing compactor committed the identical checkpoint first
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => fs.delete(tmp, false)
      }
      require(fs.exists(dst), s"snapshot checkpoint $dst not visible after commit")
    }
    // prune only what the just-committed checkpoint makes redundant
    val doomed = rawSnaps.filter(_ < newCover) ++
      covers.filter(_ < newCover).map(ckptName)
    doomed.count(n => fs.delete(new Path(snapDir, n), false))
  }

  /** Minimal flat-object JSON parse: this layer only writes flat string maps. */
  private def parseFlat(raw: String): Map[String, String] = {
    val s = raw.trim.stripPrefix("{").stripSuffix("}")
    if (s.isEmpty) Map.empty[String, String]
    else {
      val re = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      re.findAllMatchIn(s).map(m => unescape(m.group(1)) -> unescape(m.group(2))).toMap
    }
  }

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\").replace("\\n", "\n")
      .replace("\\r", "\r").replace("\\t", "\t")
}
