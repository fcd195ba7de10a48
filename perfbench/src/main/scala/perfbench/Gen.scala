package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded input generators shared by the workloads. The program only
  * ever sees what these produce; the same seed gives the same inputs. */
object Gen {
  /** A 128-bit fingerprint body as 32 lower-case hex digits. */
  def hex(rnd: Random, bytes: Int): String =
    (0 until bytes).map(_ => f"${rnd.nextInt(256)}%02x").mkString

  def quantize(x: Float): Long = math.floor(x.toDouble * 1000000.0 + 0.5).toLong

  /** Cosine of two quantized vectors, with the program's operation
    * order (integer dot, then one double division). */
  def cosine(a: Array[Long], b: Array[Long]): Double = {
    def dot(x: Array[Long], y: Array[Long]) = {
      var s = 0L; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }
    dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
  }

  /** Natural order of dotted numeric versions, independent of the
    * program's own version comparators. */
  def versionKey(v: String): Seq[Int] = v.split('.').toSeq.map(_.toInt)
  val versionOrdering: Ordering[String] =
    Ordering.by[String, Seq[Int]](versionKey)(Ordering.Implicits.seqOrdering)

  /** Latest committed ArtifactLog record's dir lines under `root`. */
  def manifestDirs(root: File): Int = {
    val recs = Option(new File(root, "_commits").listFiles()).toSeq.flatten
      .filter(_.getName.matches("v\\d+")).sortBy(_.getName)
    recs.lastOption.map { f =>
      java.nio.file.Files.readAllLines(f.toPath).asScala
        .count(l => l.trim.nonEmpty && !l.startsWith("#"))
    }.getOrElse(0)
  }
}

/** Documents for the MinHash index. Varies, per seed:
  *  - the near-duplicate share of each shard (a near-duplicate is an
  *    earlier doc with one word replaced, Jaccard ~0.8 on 3-token
  *    shingles), which sets how many cluster merges and forwarding
  *    entries an ingest commit does;
  *  - bridge families: docs A and B that are not near-duplicates
  *    (Jaccard ~0.4) plus a doc C near-duplicate to both, so C joins
  *    two clusters and deleting C splits them again. */
final class DocGen(seed: Long) {
  private val rnd = new Random(seed)
  private val vocab = 4000
  private var nextId = 1L
  val texts = mutable.LinkedHashMap.empty[Long, String]
  val bridges = mutable.LinkedHashSet.empty[Long]

  private def add(t: String): (Long, String) = {
    val id = nextId
    nextId += 1
    texts(id) = t
    id -> t
  }
  private def words(n: Int): Seq[String] = Seq.fill(n)(s"w${rnd.nextInt(vocab)}")

  /** A random text, not registered as a doc. */
  def randomText(): String = words(22 + rnd.nextInt(13)).mkString(" ")

  def fresh(): (Long, String) = add(randomText())

  /** A text one word away from `src` (not registered). */
  def mutate(src: String): String = {
    val ws = src.split(' ')
    ws(rnd.nextInt(ws.length)) = s"w${rnd.nextInt(vocab)}"
    ws.mkString(" ")
  }

  def nearDup(): (Long, String) =
    if (texts.isEmpty) fresh()
    else {
      val keys = texts.keysIterator.toIndexedSeq
      add(mutate(texts(keys(rnd.nextInt(keys.length)))))
    }

  def bridgeFamily(): Seq[(Long, String)] = {
    val s = words(36)
    val a = add(s.slice(0, 26).mkString(" "))
    val b = add(s.slice(10, 36).mkString(" "))
    val c = add(s.slice(5, 31).mkString(" "))
    bridges += c._1
    Seq(a, b, c)
  }

  /** `n` docs (plus one bridge family when `withBridge`), with a
    * near-duplicate share drawn from the seed. */
  def shard(n: Int, withBridge: Boolean): Seq[(Long, String)] = {
    val share = 0.1 + 0.4 * rnd.nextDouble()
    Seq.fill(n)(if (rnd.nextDouble() < share) nearDup() else fresh()) ++
      (if (withBridge) bridgeFamily() else Nil)
  }

  /** `n` live ids to delete, bridges first with the seed's share. */
  def victims(live: collection.Set[Long], n: Int): Seq[Long] = {
    val share = 0.25 + 0.5 * rnd.nextDouble()
    val br = rnd.shuffle(bridges.filter(live).toSeq).take((n * share).ceil.toInt)
    val rest = rnd.shuffle(live.toSeq.filterNot(br.toSet)).take(n - br.length)
    br ++ rest
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

/** 32-dim embeddings around 16 seeded cluster centers, so the IVF
  * cells are balanced and the nearest neighbours of a vector sit mostly
  * in its own cell. */
final class VecGen(seed: Long) {
  private val dim = 32
  private val centers = 16
  private val rnd = new Random(seed ^ 0x5eedL)
  private val cs = Array.fill(centers, dim)(rnd.nextGaussian().toFloat)
  private var nextId = 1L
  val vecs = mutable.LinkedHashMap.empty[Long, Array[Float]]

  def next(): (Long, Array[Float]) = {
    val c = cs(rnd.nextInt(centers))
    val v = Array.tabulate(dim)(i => c(i) + 0.35f * rnd.nextGaussian().toFloat)
    val id = nextId
    nextId += 1
    vecs(id) = v
    id -> v
  }

  def batch(n: Int): Seq[(Long, Array[Float])] = Seq.fill(n)(next())
  def nextInt(n: Int): Int = rnd.nextInt(n)
}
