package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

/** The Search workload's input: a directory tree on local disk whose
  * entries are empty regular files, made from the seed alone.
  *
  * Entry counts per directory are skewed (log-normal, a few empty), and
  * names come from one shared pool with Zipf-like popularity, so popular
  * names repeat across directories. Needles mix common matches (one
  * syllable), rare ones (a fragment of a name from the pool's tail) and
  * absent ones (upper case, which no name contains). */
final case class SearchTree(dirs: IndexedSeq[String],
    listing: IndexedSeq[(String, String)], needles: IndexedSeq[String]) {

  /** Plain-Scala reference for every Search path: the matching names,
    * duplicates kept, in byte order (names are ASCII). */
  def expected(needle: String): IndexedSeq[String] =
    listing.collect { case (_, n) if n.contains(needle) => n }.sorted
}

object SearchTree {
  private val Syllables = IndexedSeq("ka", "lo", "mi", "nu", "pe", "ra", "si",
    "to", "ve", "zu", "ba", "de", "fi", "go", "hu", "ja", "ke", "li", "mo", "ne")
  private val Exts = IndexedSeq("txt", "log", "dat", "csv", "bin")

  def generate(root: File, seed: Long, dirCount: Int, meanEntries: Int,
      poolSize: Int, needleCount: Int): SearchTree = {
    val rng = new Random(seed)
    val pool = IndexedSeq.tabulate(poolSize) { i =>
      val stem = (0 until 3).map(_ => Syllables(rng.nextInt(Syllables.length))).mkString
      s"${stem}_$i.${Exts(rng.nextInt(Exts.length))}"
    }
    // Half the draws follow Zipf(1) popularity (inverse CDF), half are
    // uniform, so a directory can hold many distinct names cheaply.
    val cdf = pool.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    def draw(): String =
      if (rng.nextBoolean()) pool(rng.nextInt(pool.length))
      else {
        val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble() * cdf.last)
        pool(math.min(pool.length - 1, if (i >= 0) i else -i - 1))
      }
    // Log-normal shares of a fixed total, so every seed lists about the
    // same number of entries; a few directories are empty.
    val weights = IndexedSeq.tabulate(dirCount) { d =>
      if (d % 50 == 7) 0.0 else math.exp(rng.nextGaussian()) }
    val sizes = weights.map { w =>
      if (w == 0.0) 0
      else math.min(poolSize / 4, math.max(1,
        (dirCount * meanEntries * w / weights.sum).round.toInt))
    }
    val listing = mutable.ArrayBuffer[(String, String)]()
    val dirs = IndexedSeq.tabulate(dirCount) { d =>
      val dir = new File(root, f"d$d%03d")
      dir.mkdirs()
      val names = mutable.LinkedHashSet[String]()
      while (names.size < sizes(d)) names += draw()
      // One empty file per directory; every other entry is a hard link to
      // it, so making the tree allocates one inode per directory, not one
      // per entry.
      var first: java.nio.file.Path = null
      names.foreach { n =>
        val p = new File(dir, n).toPath
        if (first == null) first = Files.createFile(p) else Files.createLink(p, first)
        listing += ((dir.getPath, n))
      }
      dir.getPath
    }
    val tailNames = listing.map(_._2).distinct
      .filter(n => n.split('_')(1).takeWhile(_ != '.').toInt > poolSize / 4)
    val needles = IndexedSeq.tabulate(needleCount) { k =>
      k % 3 match {
        case 0 => Syllables(rng.nextInt(Syllables.length)) // common
        case 1 => // rare: the stem and number of one tail name
          val n = tailNames(rng.nextInt(tailNames.length))
          n.substring(2, n.indexOf('.'))
        case _ => rng.alphanumeric.filter(_.isUpper).take(3).mkString // absent
      }
    }
    SearchTree(dirs, listing.toIndexedSeq, needles)
  }
}
