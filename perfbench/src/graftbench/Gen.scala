package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of its
  * seed and sizes (one `SplittableRandom` per input, salted per input
  * kind), so the same seed gives byte-identical inputs and the program
  * under test only ever sees the generated data. */
object Gen {

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** Fixed-point rendering of `v` with `frac` decimals — the
    * reference's comma-separated float text, without the cost of
    * `String.format` on millions of values. */
  private def appendFixed(sb: java.lang.StringBuilder, v: Double,
      frac: Int): Unit = {
    val scale = math.pow(10, frac).toLong
    var m = math.round(math.abs(v) * scale)
    if (v < 0 && m != 0) sb.append('-')
    sb.append(m / scale).append('.')
    m %= scale
    var div = scale / 10
    while (div > 0) { sb.append(((m / div) % 10).toInt); div /= 10 }
  }

  // ------------------------------------------------------------ points

  /** Gaussian blobs as reference-format CSV text (`c1,...,cdim` per
    * line): `blobs` centers uniform in [-10, 10]^dim, unit spread. */
  def pointsCsv(seed: Long, n: Int, dim: Int, blobs: Int): Array[Byte] = {
    val r = rng(seed, 1)
    val centers = Array.fill(blobs, dim)(r.nextDouble(-10.0, 10.0))
    val sb = new java.lang.StringBuilder(n * dim * 8)
    var i = 0
    while (i < n) {
      val c = centers(r.nextInt(blobs))
      var j = 0
      while (j < dim) {
        if (j > 0) sb.append(',')
        appendFixed(sb, c(j) + gaussian(r), 4)
        j += 1
      }
      sb.append('\n')
      i += 1
    }
    sb.toString.getBytes("UTF-8")
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on two uniforms; one output per call keeps the
    // stream position a simple function of the call count
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }

  // ------------------------------------------------------------- graph

  /** Barabasi-Albert power-law graph as a directed edge list: node i
    * (from `perNode` on) links to `perNode` distinct earlier nodes
    * drawn in proportion to their degree, so degrees follow a power
    * law and every node has at least `perNode` neighbours. Edges point
    * from the new node to the old one (the oldest nodes are sinks).
    * Node ids are a seeded permutation of 0..nodes-1 scaled by 7
    * (sparse, unordered ids). */
  def edges(seed: Long, nodes: Int, perNode: Int): Array[(Long, Long)] = {
    val r = rng(seed, 2)
    val perm = Array.range(0, nodes)
    var i = nodes - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    // every edge endpoint once: a uniform draw from it is a
    // degree-proportional draw of a node
    val ends = new Array[Int](2 * nodes * perNode)
    var nEnds = 0
    val out = Array.newBuilder[(Long, Long)]
    val picked = new java.util.HashSet[Integer]()
    i = 1
    while (i < nodes) {
      picked.clear()
      val want = math.min(perNode, i)
      while (picked.size < want) {
        val t = if (nEnds == 0) 0 else ends(r.nextInt(nEnds))
        if (picked.add(t)) {
          out += ((perm(i).toLong * 7L, perm(t).toLong * 7L))
          ends(nEnds) = i; ends(nEnds + 1) = t; nEnds += 2
        }
      }
      i += 1
    }
    out.result()
  }

  // --------------------------------------------------------------- text

  final case class Corpus(
      base: Array[(Long, String)],
      batches: Array[Array[(Long, String)]],
      /** planted (new id, old id) near-duplicate pairs, per batch */
      planted: Array[Array[(Long, Long)]])

  /** A base corpus plus delta batches. Words come from a seeded
    * vocabulary with a Zipf-like draw; `dupShare` of each batch's docs
    * are near-duplicates of an older doc (base or an earlier batch)
    * with ~5% of words replaced. Ids are dense and increase batch by
    * batch, so every new id is greater than every old one. */
  def corpus(seed: Long, baseDocs: Int, batches: Int, batchDocs: Int,
      dupShare: Double): Corpus = {
    val r = rng(seed, 3)
    val vocab = Array.fill(4000) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    def word(): String = {
      // squaring a uniform skews draws toward the head of the vocabulary
      val u = r.nextDouble()
      vocab((u * u * vocab.length).toInt)
    }
    def doc(): Array[String] = Array.fill(30 + r.nextInt(40))(word())
    def mutate(words: Array[String]): Array[String] =
      words.map(w => if (r.nextDouble() < 0.05) word() else w)

    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val base = Array.tabulate(baseDocs) { i =>
      val d = doc(); texts += d; (i.toLong, d.mkString(" "))
    }
    val planted = Array.fill(batches)(Array.newBuilder[(Long, Long)])
    val bs = Array.tabulate(batches) { b =>
      val older = texts.length
      val fresh = Array.tabulate(batchDocs) { j =>
        val id = older.toLong + j
        val d =
          if (r.nextDouble() < dupShare) {
            val src = r.nextInt(older)
            planted(b) += ((id, src.toLong))
            mutate(texts(src))
          } else doc()
        (id, d)
      }
      fresh.foreach { case (_, d) => texts += d }
      fresh.map { case (id, d) => (id, d.mkString(" ")) }
    }
    Corpus(base, bs, planted.map(_.result()))
  }

  // ------------------------------------------------------------- events

  final case class Event(eventId: Long, tsMicros: Long, userId: Long,
      eventType: String, value: Double, props: String)

  private val eventTypes = Array("view", "click", "cart", "purchase")

  /** Click-stream events: users drawn Zipf-like, millisecond
    * timestamps over one day, values in cents. */
  def events(seed: Long, rows: Int, users: Int): Array[Event] = {
    val r = rng(seed, 4)
    val t0 = 1700000000000000L
    Array.tabulate(rows) { i =>
      val u = r.nextDouble()
      Event(i.toLong, t0 + r.nextLong(86400L * 1000L) * 1000L,
        (u * u * users).toLong, eventTypes(r.nextInt(eventTypes.length)),
        r.nextInt(100000) / 100.0, s"""{"k":${r.nextInt(10)}}""")
    }
  }

  // ------------------------------------------------------------ digest

  /** SHA-256 over every generated input for `seed` at the given sizes
    * (the determinism test compares these across seeds). */
  def digest(seed: Long, s: Sizes): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(x: Any): Unit = md.update(x.toString.getBytes("UTF-8"))
    md.update(pointsCsv(seed, s.points, s.dim, s.blobs))
    edges(seed, s.nodes, s.edgesPerNode).foreach(put)
    val c = corpus(seed, s.baseDocs, s.batches, s.batchDocs, s.dupShare)
    c.base.foreach(put); c.batches.foreach(_.foreach(put))
    c.planted.foreach(_.foreach(put))
    events(seed, s.events, s.users).foreach(put)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
