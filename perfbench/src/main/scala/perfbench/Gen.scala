package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Base64, SplittableRandom}

/** Seeded input generators with ground truth.
  *
  * Every value is a pure function of (seed, index), so a record can be
  * rebuilt anywhere (on executors while generating, on the driver while
  * checking) and two runs on one seed produce identical inputs. The program
  * under test only ever sees the wire columns; the labels stay on the
  * benchmark side.
  */
object Gen {

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + i))

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---------------------------------------------------------------- wire --

  /** One Kinesis record, flattened to primitive columns so it can be landed
    * as parquet and replayed (the replay source reads flat schemas only).
    */
  final case class Wire(data: String, partitionKey: String, sequenceNumber: String,
                        approximateArrivalTimestamp: Double,
                        kinesisSchemaVersion: String, eventSource: String,
                        eventID: String, eventName: String,
                        eventSourceARN: String, awsRegion: String)

  /** A wire record plus what routing must make of it. `route` is the
    * expected `__route` tag, `reason` the expected `__reason` (null when
    * routed) and `redelivery` marks a planted copy of an earlier record.
    */
  final case class Labeled(i: Long, wire: Wire, route: String, reason: String,
                           redelivery: Boolean)

  val Vendor = "com.graft.bench"
  def typeId(name: String): String = s"$Vendor/$name/1-0-0"
  val EnvelopeId: String = typeId("envelope")
  val Registered: IndexedSeq[String] =
    IndexedSeq("click", "purchase", "signup", "view", "cart", "search", "refund", "login")
  private val Unregistered = IndexedSeq("audit", "heartbeat", "metric", "trace")
  private val Words = IndexedSeq("alpha", "bravo", "cedar", "delta", "ember", "fjord",
    "gale", "harbor", "iris", "juniper", "kelp", "lumen")

  /** Cumulative shares of the planted mix (record kinds in ladder order). */
  private val Mix: Seq[(Double, String)] = Seq(
    0.300 -> "unregistered",
    0.305 -> "null data",
    0.325 -> "bad base64",
    0.345 -> "corrupt json",
    0.355 -> "missing schema",
    0.370 -> "wrong envelope",
    0.385 -> "invalid envelope",
    0.465 -> "invalid payload",
    1.000 -> "valid")

  /** Share of stream records that are planted redeliveries. */
  val RedeliveryShare = 0.02

  private def b64(s: String): String = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
  private def q(s: String): String = "\"" + s + "\""
  private def cents(c: Int): String = s"${c / 100}.${c % 100 / 10}${c % 10}"

  /** Record `i` of the wire stream for `seed`. With `redeliveries`, about
    * 2% of records are exact copies (same sequence number) of a record up to
    * 5,000 positions earlier.
    */
  def wire(seed: Long, i: Long, redeliveries: Boolean): Labeled = {
    val r = rng(seed, 1L, i)
    if (redeliveries && i >= 1 && r.nextDouble() < RedeliveryShare) {
      val j = i - 1 - r.nextLong(math.min(i, 5000L))
      wire(seed, j, redeliveries).copy(i = i, redelivery = true)
    } else original(seed, i, r)
  }

  private def original(seed: Long, i: Long, r: SplittableRandom): Labeled = {
    val u = r.nextDouble()
    val kind = Mix.find(u < _._1).get._2
    val typ = Registered(r.nextInt(Registered.size))
    val (payload, valid) = kind match {
      case "invalid payload" => dataJson(typ, r, valid = false)
      case _ => dataJson(typ, r, valid = true)
    }
    val other = typeId(Unregistered(r.nextInt(Unregistered.size)))
    val origin = s"${Words(r.nextInt(Words.size))}:svc-${r.nextInt(50)}"
    val ts = s"2026-10-${1 + r.nextInt(28)}T${10 + r.nextInt(10)}:00:00Z"
    def envelope(schema: Option[String], org: String, data: String): String =
      "{" + schema.map(s => s"\"schema\":${q(s)},").getOrElse("") +
        s"\"origin\":${q(org)},\"timestamp\":${q(ts)},\"data\":$data}"
    val okEnvelope = envelope(Some(EnvelopeId), origin, payload)
    val (data, route, reason) = kind match {
      case "unregistered" =>
        val d = s"{\"schema\":${q(other)},\"id\":${r.nextInt(1000000)}}"
        (b64(envelope(Some(EnvelopeId), origin, d)), "skipped", "unregistered schema")
      case "null data" => (null, "badmsg", "undecodable")
      case "bad base64" => ("%%" + b64(okEnvelope).drop(2) + "*!", "badmsg", "undecodable")
      case "corrupt json" =>
        (b64(okEnvelope.take(okEnvelope.length / 2)), "badmsg", "undecodable")
      case "missing schema" =>
        (b64(envelope(None, origin, payload)), "badmsg", "missing schema")
      case "wrong envelope" =>
        (b64(envelope(Some(typeId("envelope-legacy")), origin, payload)),
          "badmsg", "wrong event schema")
      case "invalid envelope" =>
        (b64(envelope(Some(EnvelopeId), "Not A Valid Origin!", payload)),
          "badmsg", "invalid envelope")
      case _ =>
        if (valid) (b64(okEnvelope), s"branch:${typeId(typ)}", null)
        else (b64(okEnvelope), "badmsg", "invalid payload")
    }
    val seq = f"4959${i}%020d"
    val w = Wire(data, s"pk-${r.nextInt(256)}", seq, 1.7e9 + i * 0.001, "1.0",
      "aws:kinesis", s"shardId-000000000000:$seq", "aws:kinesis:record",
      "arn:aws:kinesis:us-west-2:123456789012:stream/bench", "us-west-2")
    Labeled(i, w, route, reason, redelivery = false)
  }

  /** The `data` object for a registered type: valid, or violating exactly
    * one constraint of its schema (see [[Registry]]).
    */
  private def dataJson(typ: String, r: SplittableRandom, valid: Boolean): (String, Boolean) = {
    val id = r.nextInt(1000000)
    val name = (0 until 3 + r.nextInt(8)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    val bad = if (valid) -1 else r.nextInt(2)
    def obj(fields: (String, String)*): String =
      fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    def arr(xs: Seq[Long]): String = xs.mkString("[", ",", "]")
    def withRaw(fields: Seq[(String, String)]): String =
      obj((("schema" -> q(typeId(typ))) +: fields :+
        ("raw" -> q(obj(fields: _*).replace("\"", "\\\"")))): _*)
    val json = typ match {
      case "click" =>
        val k = if (bad == 0) 1001 + r.nextInt(500) else r.nextInt(1001)
        val tag = if (bad == 1) s"x${r.nextInt(99)}" else s"t${r.nextInt(99)}"
        obj("schema" -> q(typeId(typ)), "id" -> s"$id", "k" -> s"$k", "tag" -> q(tag))
      case "purchase" =>
        val v = if (bad == 0) (if (r.nextBoolean()) "0.0" else "6000.5")
                else cents(1 + r.nextInt(499900))
        val nm = if (bad == 1) name.take(1) else name
        obj("schema" -> q(typeId(typ)), "id" -> s"$id", "v" -> v, "name" -> q(nm))
      case "signup" =>
        val nm = if (bad == 0) name.capitalize + "9" else name
        val tag = if (bad == 1) "fax" else Seq("web", "ios", "android")(r.nextInt(3))
        obj("schema" -> q(typeId(typ)), "name" -> q(nm), "tag" -> q(tag))
      case "view" =>
        val k = 5L * r.nextInt(200) + (if (bad == 0) 1 + r.nextInt(4) else 0)
        val items = (0 until 1 + r.nextInt(8)).map(_ => r.nextInt(100).toLong)
        val its = if (bad == 1) items.updated(0, -1L - r.nextInt(9)) else items
        obj("schema" -> q(typeId(typ)), "k" -> s"$k", "items" -> arr(its))
      case "cart" =>
        val items = (0 until 2 + r.nextInt(4)).map(j => 1000L * j + r.nextInt(1000))
        val its = if (bad >= 0) items :+ items.head else items
        obj("schema" -> q(typeId(typ)), "id" -> s"$id", "items" -> arr(its))
      case "search" =>
        if (bad >= 0) obj("schema" -> q(typeId(typ)), "name" -> q(name))
        else if (r.nextBoolean())
          obj("schema" -> q(typeId(typ)), "name" -> q(name), "k" -> s"${r.nextInt(50)}")
        else obj("schema" -> q(typeId(typ)), "name" -> q(name), "tag" -> q("web"))
      case "refund" =>
        val base = Seq("id" -> s"$id", "v" -> cents(r.nextInt(10000)),
          "name" -> q(name))
        withRaw(if (bad >= 0) base :+ ("note" -> q("late")) else base)
      case "login" =>
        val xs = Seq("x-a" -> q(s"${r.nextInt(999)}"), "x-b" -> q(s"${r.nextInt(999)}"))
        val xs2 = if (bad >= 0) xs.updated(1, "x-b" -> q(s"${r.nextInt(99)}z")) else xs
        withRaw(("name" -> q(name)) +: xs2)
    }
    (json, valid)
  }

  // -------------------------------------------------------------- corpus --

  val SegWords = 8
  val Dim = 32
  private val VocabSize = 20000
  private val Boilerplate: IndexedSeq[String] = (0 until 24).map { b =>
    val r = rng(0xB011L, 7L, b)
    (0 until SegWords).map(_ => s"bp${r.nextInt(400)}").mkString(" ")
  }

  private def word(r: SplittableRandom): String = {
    // Zipf-like: squaring a uniform skews draws toward the head
    val u = r.nextDouble()
    val k = (u * u * VocabSize).toInt
    val base = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi")
    base(k % 8) + base((k / 8) % 8) + base((k / 64) % 8) + (k / 512).toString
  }

  /** Planted role of doc `i` in corpus `(seed, pass)`. */
  object Kind { val Original = 0; val Copy = 1; val NearHigh = 2; val NearLow = 3; val NearVec = 4 }

  def kindOf(seed: Long, pass: Long, i: Long): Int =
    if (i < 10) Kind.Original
    else {
      val u = rng(seed, 100L + pass, i).nextDouble()
      if (u < 0.05) Kind.Copy
      else if (u < 0.065) Kind.NearHigh
      else if (u < 0.08) Kind.NearLow
      else if (u < 0.10) Kind.NearVec
      else Kind.Original
    }

  /** The earlier ORIGINAL document a planted copy points at (never another
    * copy, so the ground truth has no chains).
    */
  def baseOf(seed: Long, pass: Long, i: Long): Long = {
    var j = rng(seed, 150L + pass, i).nextLong(i)
    while (j > 0 && kindOf(seed, pass, j) != Kind.Original) j -= 1
    j
  }

  /** Segments of an original document; boilerplate segments are drawn from
    * a small shared pool, never first or last, and are segment-aligned so
    * line dedup sees them whole.
    */
  private def originalSegments(seed: Long, pass: Long, i: Long): IndexedSeq[String] = {
    val r = rng(seed, 200L + pass, i)
    val nSeg = 8 + r.nextInt(8)
    (0 until nSeg).map { s =>
      if (s > 0 && s < nSeg - 1 && r.nextDouble() < 0.12)
        Boilerplate(r.nextInt(Boilerplate.size))
      else (0 until SegWords).map(_ => word(r)).mkString(" ")
    }
  }

  private def originalVec(seed: Long, pass: Long, i: Long): Array[Float] = {
    val r = rng(seed, 300L + pass, i)
    normalize(Array.fill(Dim)(gaussian(r)))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def normalize(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def normalize(v: Array[Float]): Array[Float] = normalize(v.map(_.toDouble))

  /** Document `i` of corpus `(seed, pass)`: its text and embedding. */
  def doc(seed: Long, pass: Long, i: Long): (String, Array[Float]) =
    kindOf(seed, pass, i) match {
      case Kind.Copy => doc(seed, pass, baseOf(seed, pass, i))
      case k @ (Kind.NearHigh | Kind.NearLow) =>
        val segs = originalSegments(seed, pass, baseOf(seed, pass, i)).toArray
        val editable = segs.indices.filterNot(s => BoilerSet(segs(s)))
        val r = rng(seed, 400L + pass, i)
        def edit(s: Int, k: Int): Unit = {
          val ws = segs(s).split(" ")
          ws(k) = s"edit${r.nextInt(1000000)}"
          segs(s) = ws.mkString(" ")
        }
        // high side: one word in each of two segments; low side: six words
        // of every non-boilerplate segment
        if (k == Kind.NearHigh) {
          val a = editable(r.nextInt(editable.size))
          val b = editable.filter(_ != a)(r.nextInt(editable.size - 1))
          edit(a, r.nextInt(SegWords)); edit(b, r.nextInt(SegWords))
        } else editable.foreach(s => (0 until 6).foreach(k => edit(s, k)))
        (segs.mkString(" "), originalVec(seed, pass, i))
      case Kind.NearVec =>
        val b = originalVec(seed, pass, baseOf(seed, pass, i))
        val r = rng(seed, 500L + pass, i)
        (originalSegments(seed, pass, i).mkString(" "),
          normalize(b.map(x => x + 0.02f * gaussian(r).toFloat)))
      case _ =>
        (originalSegments(seed, pass, i).mkString(" "), originalVec(seed, pass, i))
    }

  private lazy val BoilerSet: Set[String] = Boilerplate.toSet

  /** Boilerplate segments in a document's text. */
  def boilerCount(text: String): Int =
    text.split(" ").grouped(SegWords).count(g => BoilerSet(g.mkString(" ")))

  /** Word 3-shingle set, the shingling MinHash uses. */
  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.count(y)
    inter.toDouble / (x.size + y.size - inter)
  }
}
