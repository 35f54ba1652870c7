package perfbench

import java.io.File
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.zip.CRC32C

/** The pixel formula every generated file is written from. The output
  * checks evaluate the same formula, so an expectation never comes from
  * the engine under test. Integer arithmetic only: the value of a pixel
  * is bit-identical wherever it is computed. */
object Formula {

  /** SplitMix64 finalizer. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def tri(t: Int, p: Int): Int = math.abs(Math.floorMod(t, 2 * p) - p)

  /** Bumped whenever `value` changes, so cached inputs are regenerated. */
  val Version = 2

  /** uint16 value of pixel (x, y) of file `file`: a stepped ramp plus 4
    * bits of noise, so deflate shrinks a 512-px tile to about half, as it
    * does real imagery. Always in [4000, 5615]: never the nodata value 0. */
  def value(seed: Long, file: Long, x: Int, y: Int): Int = {
    val h = mix64(seed * 0x632BE59BD9B4E019L + file)
    val ox = (h & 0x3ff).toInt
    val oy = ((h >>> 10) & 0x3ff).toInt
    val ramp = 16 * ((tri(x + ox, 700) + tri(y + oy, 900)) / 16)
    4000 + ramp + (mix64(h ^ (y.toLong << 24) ^ x) & 0xf).toInt
  }

  /** A generator stream for choices that are not pixels (window offsets,
    * nodata stripes). */
  def pick(seed: Long, salt: Long, bound: Int): Int =
    Math.floorMod(mix64(seed * 0x9E3779B97F4A7C15L ^ mix64(salt)), bound.toLong).toInt
}

/** Generated input sets under `<work>/data/<key>`, published atomically
  * (generate into `<key>.tmp`, then rename) and keyed by workload, seed
  * and sizes. A MANIFEST holds every file's size and a CRC32C digest of
  * all content; reuse re-hashes the files and regenerates on any
  * mismatch, so a truncated or edited cache never reaches a run. */
object DataCache {

  private val Manifest = "MANIFEST"

  /** Directory holding the set for `key`, generated by `gen` when absent
    * or damaged. Returns the directory and whether it was generated. At
    * most `keep` sets per workload stay on disk. */
  def obtain(root: File, workload: String, key: String, keep: Int = 2)
            (gen: File => Unit): (File, Boolean) = {
    root.mkdirs()
    val dir = new File(root, key)
    if (dir.isDirectory && verify(dir)) {
      dir.setLastModified(System.currentTimeMillis())
      return (dir, false)
    }
    deleteTree(dir)
    val tmp = new File(root, key + ".tmp")
    deleteTree(tmp)
    tmp.mkdirs()
    gen(tmp)
    val files = contentFiles(tmp)
    val lines = s"${digest(tmp, files)} ${files.length}" +:
      files.map(f => s"${f.length} ${f.getName}")
    Files.write(new File(tmp, Manifest).toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    evict(root, workload + "-", keep)
    (dir, true)
  }

  private def contentFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName != Manifest).sortBy(_.getName).toSeq

  /** CRC32C over every file's name, size and bytes, in name order. */
  def digest(dir: File, files: Seq[File]): String = {
    val crc = new CRC32C()
    val buf = ByteBuffer.allocateDirect(1 << 20)
    files.foreach { f =>
      crc.update(s"${f.getName}:${f.length}".getBytes("UTF-8"))
      val ch = FileChannel.open(f.toPath, StandardOpenOption.READ)
      try {
        buf.clear()
        while (ch.read(buf) > 0) {
          buf.flip(); crc.update(buf); buf.clear()
        }
      } finally ch.close()
    }
    f"${crc.getValue}%08x"
  }

  private def verify(dir: File): Boolean = {
    val mf = new File(dir, Manifest)
    if (!mf.isFile) return false
    val lines = new String(Files.readAllBytes(mf.toPath), "UTF-8")
      .split('\n').filter(_.nonEmpty).toSeq
    val files = contentFiles(dir)
    val Array(want, n) = lines.head.split(' ')
    files.length == n.toInt &&
      lines.tail == files.map(f => s"${f.length} ${f.getName}") &&
      digest(dir, files) == want
  }

  private def evict(root: File, prefix: String, keep: Int): Unit =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
        !f.getName.endsWith(".tmp"))
      .sortBy(-_.lastModified).drop(keep).foreach(deleteTree)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  /** Runs `body(i)` for i in [0, n) on the common fork-join pool. */
  def parallel(n: Int)(body: Int => Unit): Unit =
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => body(i))
}
