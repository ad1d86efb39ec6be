package graftbench

import java.io.RandomAccessFile
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** A seeded on-disk directory tree and its ground truth.
  *
  * Shape: `topDirs` top-level dirs, then `dirs - topDirs` more, each
  * hung under a uniformly chosen existing dir shallower than `maxDepth`
  * (so early dirs collect deep, wide subtrees and late ones stay thin)
  * inside a top-level dir drawn by its share. Exactly `files` indexable
  * files go to the leaf dirs in heavy-tailed proportions, plus
  * `files / 100` files the default skip patterns and the hidden-file
  * rule keep out of the index. The top-level shares of dirs and files
  * are Zipf, 1/1 : 1/2 : ... : 1/topDirs, in a seeded order: every
  * seed's tree is equally uneven at the top, where the listing splits
  * its work, so a seed changes the tree but not how well its scan
  * parallelizes. Sizes are sparse (`setLength`, no data written); every
  * mtime is set explicitly from the seed. Nothing reads the clock or sleeps, so one seed gives one
  * tree, byte for byte in metadata.
  */
final class Tree(val root: Path, seed: Long, val topDirs: Int,
    val nDirs: Int, val nFiles: Int, maxDepth: Int) {
  import Tree._

  private val rng = new SplittableRandom(seed)
  /** Each top-level dir's share of the dirs and files below it. */
  private val topShare: IndexedSeq[Double] = {
    val z = (1 to topDirs).map(1.0 / _)
    val order = (0 until topDirs).map(i => (rng.nextDouble(), i)).sorted.map(_._2)
    order.map(z(_) / z.sum)
  }
  private def topOf(d: String): Int = d.substring(1, 3).toInt
  /** Relative dir paths (no leading slash); parents precede children. */
  val dirs: IndexedSeq[String] = {
    val b = mutable.ArrayBuffer.empty[String]
    val byTop = IndexedSeq.tabulate(topDirs) { i =>
      b += f"t$i%02d"
      mutable.ArrayBuffer((f"t$i%02d", 1))
    }
    val cum = topShare.scanLeft(0.0)(_ + _).tail
    val kids = mutable.Map.empty[String, Int].withDefaultValue(0)
    while (b.size < nDirs) {
      val u = rng.nextDouble()
      val in = byTop(cum.indexWhere(u < _) match { case -1 => topDirs - 1; case t => t })
      val (p, d) = in(rng.nextInt(in.size))
      if (d < maxDepth) {
        val k = kids(p)
        kids(p) = k + 1
        b += s"$p/s$k"
        in += ((s"$p/s$k", d + 1))
      }
    }
    b.toIndexedSeq
  }
  val leaves: IndexedSeq[String] = {
    val parents = dirs.flatMap(d =>
      Option(d.lastIndexOf('/')).filter(_ > 0).map(d.substring(0, _))).toSet
    dirs.filterNot(parents.contains)
  }

  /** Live indexable files: relative path -> (size, mtime seconds). */
  val files = mutable.LinkedHashMap.empty[String, (Long, Long)]
  val dirMtime = mutable.Map.empty[String, Long]
  private val leafFiles = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
  private val excluded = mutable.ArrayBuffer.empty[String]

  locally {
    val w = leaves.map(_ => math.pow(1.0 - rng.nextDouble(), -0.9))
    val counts = new Array[Int](leaves.size)
    val quota = topShare.map(s => (nFiles * s).toInt).toArray
    quota(0) += nFiles - quota.sum
    val byTop = leaves.indices.groupBy(i => topOf(leaves(i)))
    (0 until topDirs).foreach { t =>
      val ix = byTop(t)
      val tot = ix.map(w).sum
      ix.foreach(i => counts(i) = 1 + ((quota(t) - ix.size) * w(i) / tot).toInt)
      var left = quota(t) - ix.map(counts(_)).sum
      while (left > 0) { counts(ix(rng.nextInt(ix.size))) += 1; left -= 1 }
    }
    leaves.indices.foreach { i =>
      val buf = mutable.ArrayBuffer.empty[String]
      (0 until counts(i)).foreach { j =>
        val p = s"${leaves(i)}/f$j.${Exts(rng.nextInt(Exts.length))}"
        files(p) = (fileSize(rng), BaseEpoch + rng.nextLong(300L * Day))
        buf += p
      }
      leafFiles(leaves(i)) = buf
    }
    (0 until nFiles / 100).foreach { j =>
      val l = leaves(rng.nextInt(leaves.size))
      excluded += (if (j % 2 == 0) s"$l/x$j.tmp" else s"$l/.h$j")
    }
    dirs.foreach(d => dirMtime(d) = BaseEpoch + 300L * Day +
      rng.nextLong(30L * Day))
  }

  /** Write the tree under `root` (which must not exist). */
  def materialize(): Unit = {
    dirs.foreach(d => Files.createDirectories(root.resolve(d)))
    // file creation is independent per file: spread it over the cores
    val all = files.toSeq.map { case (p, (size, mt)) => (p, size, mt) } ++
      excluded.map(p => (p, 7L, BaseEpoch))
    java.util.Arrays.asList(all: _*).parallelStream()
      .forEach(f => writeFile(f._1, f._2, f._3))
    dirs.foreach(touchDir)
  }

  private def writeFile(rel: String, size: Long, mtime: Long): Unit = {
    val f = root.resolve(rel).toFile
    val raf = new RandomAccessFile(f, "rw")
    try raf.setLength(size) finally raf.close()
    f.setLastModified(mtime * 1000L): Unit
  }

  private def touchDir(d: String): Unit =
    root.resolve(d).toFile.setLastModified(dirMtime(d) * 1000L): Unit

  /** Leaves with at least three files: every change pattern applies. */
  lazy val changeable: IndexedSeq[String] =
    leaves.filter(l => leafFiles(l).size >= 3)

  /** Apply the seeded change pattern to each of `dirs` (two files added,
    * two modified, one deleted, the dir's mtime moved) on disk and in
    * the ground truth; returns the change, which [[undo]] reverts.
    */
  def change(dirs: Seq[String], tag: String, r: SplittableRandom): Change = {
    val added = mutable.ArrayBuffer.empty[String]
    val modified = mutable.ArrayBuffer.empty[(String, (Long, Long))]
    val deleted = mutable.ArrayBuffer.empty[(String, (Long, Long))]
    val oldDirMt = dirs.map(d => d -> dirMtime(d))
    dirs.foreach { d =>
      val fs = leafFiles(d)
      val picks = pickDistinct(fs.size, 3, r).map(fs(_))
      picks.take(2).foreach { p =>
        val old = files(p)
        modified += p -> old
        val nu = (old._1 + 1 + r.nextInt(1 << 20), ChurnEpoch + r.nextInt(86400))
        files(p) = nu
        writeFile(p, nu._1, nu._2)
      }
      val gone = picks(2)
      deleted += gone -> files(gone)
      files.remove(gone)
      Files.delete(root.resolve(gone))
      fs -= gone
      (0 until 2).foreach { j =>
        val p = s"$d/$tag-$j.dat"
        val nu = (fileSize(r), ChurnEpoch + r.nextInt(86400))
        files(p) = nu
        fs += p
        writeFile(p, nu._1, nu._2)
        added += p
      }
      dirMtime(d) = ChurnEpoch + r.nextInt(86400)
      touchDir(d)
    }
    Change(dirs, added.toSeq, modified.toSeq, deleted.toSeq, oldDirMt)
  }

  def undo(c: Change): Unit = {
    c.added.foreach { p =>
      Files.delete(root.resolve(p))
      files.remove(p)
      leafFiles(p.substring(0, p.lastIndexOf('/'))) -= p
    }
    c.modified.foreach { case (p, old) =>
      files(p) = old
      writeFile(p, old._1, old._2)
    }
    c.deleted.foreach { case (p, old) =>
      files(p) = old
      leafFiles(p.substring(0, p.lastIndexOf('/'))) += p
      writeFile(p, old._1, old._2)
    }
    c.dirMtimes.foreach { case (d, mt) => dirMtime(d) = mt; touchDir(d) }
  }

  def entries: Long = files.size.toLong + dirs.size
  def bytes: Long = files.valuesIterator.map(_._1).sum

  /** Order-independent digest of the live path set (files and dirs). */
  def pathDigest: (Long, Long) = digestOf(files.keysIterator ++ dirs.iterator)
}

object Tree {
  val BaseEpoch = 1735689600L // 2025-01-01T00:00:00Z
  /** Edits land after the tree's and the initial index's timestamps. */
  val ChurnEpoch = 1893456000L // 2030-01-01T00:00:00Z
  val Day = 86400L
  private val Exts = Array("txt", "dat", "csv", "json", "jpg", "png",
    "mp4", "pdf", "log", "parquet", "md", "bin")

  final case class Change(dirs: Seq[String], added: Seq[String],
      modified: Seq[(String, (Long, Long))],
      deleted: Seq[(String, (Long, Long))],
      dirMtimes: Seq[(String, Long)]) {
    def changedFiles: Int = added.size + modified.size + deleted.size
  }

  private def fileSize(r: SplittableRandom): Long = {
    // log-normal-ish: median ~4 KB, tail to tens of MB
    val g = (0 until 4).map(_ => r.nextDouble()).sum - 2.0
    math.min(math.exp(8.3 + 2.6 * g), 64.0 * (1 << 20)).toLong
  }

  def pickDistinct(n: Int, k: Int, r: SplittableRandom): Seq[Int] = {
    val s = mutable.LinkedHashSet.empty[Int]
    while (s.size < k) s += r.nextInt(n)
    s.toSeq
  }

  /** (sum, xor) of a 64-bit hash per path: equal sets, equal digests. */
  def digestOf(paths: Iterator[String]): (Long, Long) = {
    var sum = 0L
    var xor = 0L
    paths.foreach { p =>
      val h = (scala.util.hashing.MurmurHash3.stringHash(p, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(p, 91).toLong & 0xffffffffL)
      sum += h
      xor ^= h
    }
    (sum, xor)
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def duBytes(p: Path): Long = {
    val s = Files.walk(p)
    try {
      var n = 0L
      s.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
      n
    } finally s.close()
  }

  def parquetFiles(p: Path): Int =
    if (!Files.isDirectory(p)) 0
    else {
      val s = Files.walk(p)
      try s.filter(_.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
}
