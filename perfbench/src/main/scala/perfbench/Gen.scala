package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded procurement-shaped inputs. Everything here is a pure function of
  * the seed: the same seed yields the same records, drops, requests and
  * ground truth, so two runs of one seed do the same Spark work.
  */
object Gen {

  /** Spanish tender vocabulary, roughly in descending frequency. */
  val Words: Array[String] = (
    "de la el en para del los las y servicio suministro contrato obras " +
    "mantenimiento municipal público pública expediente lote licitación " +
    "adjudicación gestión limpieza edificios instalaciones equipos sistema " +
    "redacción proyecto ejecución dirección red agua saneamiento alumbrado " +
    "eléctrica energía vehículos material sanitario hospital centro " +
    "educativo colegio instituto vías calles urbanización pavimentación " +
    "acondicionamiento reforma ampliación rehabilitación conservación " +
    "seguridad vigilancia transporte escolar recogida residuos sólidos " +
    "urbanos informática software licencias ordenadores impresoras " +
    "telecomunicaciones telefonía móvil fibra óptica señalización tráfico " +
    "semáforos parques jardines zonas verdes arbolado deportivo piscina " +
    "polideportivo cubierta climatización calefacción ventilación " +
    "ascensores mobiliario oficina papelería uniformes vestuario " +
    "alimentación comedor catering productos farmacéuticos medicamentos " +
    "reactivos laboratorio diagnóstico prótesis quirúrgico asistencia " +
    "técnica consultoría auditoría formación seguros póliza " +
    "responsabilidad civil publicidad comunicación eventos cultura " +
    "fiestas patronales turismo promoción económica desarrollo local " +
    "empleo social dependencia ayuda domicilio residencia mayores " +
    "guardería infantil accesibilidad eficiencia renovable fotovoltaica " +
    "placas solares carretera tramo puente túnel drenaje hormigón asfalto " +
    "modificación prórroga anualidad plurianual importe presupuesto base " +
    "valor estimado plazo meses garantía definitiva solvencia criterios " +
    "valoración oferta económica anormalmente baja pliego cláusulas " +
    "administrativas particulares prescripciones técnicas procedimiento " +
    "abierto simplificado negociado menor acuerdo marco sistema dinámico " +
    "adquisición arrendamiento renting leasing mantenimiento preventivo " +
    "correctivo integral emergencia urgencia tramitación ordinaria").split(" ")

  private val Prefixes = Array(
    "Ayuntamiento de", "Diputación Provincial de", "Consejería de Sanidad de",
    "Hospital Universitario de", "Universidad de", "Mancomunidad de Municipios de",
    "Consorcio de Aguas de", "Servicio de Salud de", "Autoridad Portuaria de",
    "Empresa Municipal de Transportes de")

  private val Places = Array(
    "Madrid", "Barcelona", "Valencia", "Sevilla", "Zaragoza", "Málaga", "Murcia",
    "Palma", "Bilbao", "Alicante", "Córdoba", "Valladolid", "Vigo", "Gijón",
    "Granada", "Elche", "Oviedo", "Badalona", "Cartagena", "Terrassa", "Jerez",
    "Sabadell", "Móstoles", "Almería", "Alcalá de Henares", "Pamplona",
    "Fuenlabrada", "Leganés", "San Sebastián", "Getafe", "Burgos", "Albacete",
    "Santander", "Castellón", "Alcorcón", "Logroño", "Badajoz", "Salamanca",
    "Huelva", "Marbella", "Lleida", "Tarragona", "León", "Cádiz", "Jaén",
    "Ourense", "Girona", "Lugo", "Cáceres", "Guadalajara", "Toledo",
    "Pontevedra", "Palencia", "Ciudad Real", "Zamora", "Ávila", "Cuenca",
    "Huesca", "Segovia", "Soria")

  /** Canonical buyer names (the fuzzy-join master), in a seed-independent
    * order; workloads draw from a seeded permutation of it.
    */
  val Buyers: Array[String] = for (p <- Prefixes; c <- Places) yield s"$p $c"

  val Statuses: Array[String] = Array("PUB", "EV", "ADJ", "RES", "ANUL")

  def ntpId(no: Long): String = f"ntp$no%08d"
  def docUrl(no: Long): String = s"https://contrataciondelestado.es/licitacion/$no"

  /** Zipf-weighted word sampler (exponent 1). */
  private val cumWeights: Array[Double] = {
    val w = Words.indices.map(i => 1.0 / (i + 1)).toArray
    w.scanLeft(0.0)(_ + _).tail
  }

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def long(n: Long): Long = r.nextLong(n)
    def double(): Double = r.nextDouble()
    def chance(p: Double): Boolean = r.nextDouble() < p
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    def word(): String = {
      val x = r.nextDouble() * cumWeights.last
      var lo = 0
      var hi = cumWeights.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cumWeights(mid) < x) lo = mid + 1 else hi = mid
      }
      Words(lo)
    }
    /** Index among the newest 12% of [0, n), and at least the newest
      * `atLeast`: amendments and re-deliveries follow publication closely.
      * The 12% is assumed, not measured.
      */
    def recent(n: Long, atLeast: Long = 1): Long =
      n - 1 - long(math.min(n, math.max(atLeast, n * 12 / 100)).max(1L))
    def text(words: Int, tag: String): String =
      (Seq.fill(words)(word()) ++ Some(tag).filter(_.nonEmpty)).mkString(" ")
    /** A unit vector: dot product equals cosine similarity. */
    def unitVec(dim: Int): Array[Float] = {
      val v = Array.fill(dim)(r.nextDouble() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
  }

  /** One or two character edits (substitution, deletion, insertion or an
    * adjacent transposition, which counts two) — always within edit
    * distance 2 of the original, never equal to it.
    */
  def typo(name: String, rng: Rng): String = {
    val letters = "abcdefghilmnoprstuvz"
    def edit(s: String, budget: Int): (String, Int) = {
      val i = 1 + rng.int(s.length - 2)
      rng.int(if (budget >= 2) 4 else 3) match {
        case 0 =>
          val c = letters.charAt(rng.int(letters.length))
          val c2 = if (c == s.charAt(i)) 'x' else c
          (s.substring(0, i) + c2 + s.substring(i + 1), 1)
        case 1 => (s.substring(0, i) + s.substring(i + 1), 1)
        case 2 => (s.substring(0, i) + letters.charAt(rng.int(letters.length)) + s.substring(i), 1)
        case _ =>
          if (s.charAt(i) == s.charAt(i + 1)) (s.substring(0, i) + s.substring(i + 1), 1)
          else (s.substring(0, i) + s.charAt(i + 1) + s.charAt(i) + s.substring(i + 2), 2)
      }
    }
    val (once, used) = edit(name, 2)
    val out = if (used < 2 && rng.chance(0.5)) edit(once, 1)._1 else once
    if (out == name) name + "s" else out
  }

  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
      }
      prev = cur
    }
    prev(b.length)
  }

  /** The tokenization the text indexes use: lowercase, split on blanks. */
  def tokens(text: String): Seq[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq.filter(_.nonEmpty)

  // ---------------------------------------------------------------- lake docs

  /** One live document of the snapshot lake (drop_cycle and serve_mix). */
  final case class Doc(no: Long, day: Int, status: String, amountC: Long,
                       buyerId: Long, buyer: String, text: String) {
    def id: String = ntpId(no)
  }

  /** Churn mix of one drop, as shares of the drop's rows. */
  final case class Mix(inserts: Double, updates: Double, unchanged: Double)

  /** What one generated drop contains, by kind. */
  final case class DropTruth(inserts: Int, updates: Int, unchanged: Int)

  /** The document lake's generator and its ground truth: the live state,
    * every committed version's state, the buyer master, the event stream
    * the frequency and quantile sketches count, and per-version vectors.
    */
  final class DocLake(seed: Long, val dim: Int) {
    val rng = new Rng(seed)
    private val buyerOrder: Array[Int] = {
      val r = new Rng(seed ^ 0x5eedL)
      val a = Buyers.indices.toArray
      for (i <- a.indices.reverse) { val j = r.int(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    /** Buyer master: id -> current canonical name. */
    val master = mutable.LinkedHashMap[Long, String]()
    private var nextBuyer = 0
    val live = mutable.LinkedHashMap[Long, Doc]()
    val vectors = mutable.HashMap[Long, Array[Float]]()
    /** (status, buyer, amountC) of every row the lake inserted or changed. */
    val events = mutable.ArrayBuffer[(String, String, Long)]()
    /** Event counts per landed segment and status (quantile error bound). */
    val segmentSizes = mutable.ArrayBuffer[Map[String, Int]]()
    val versions = mutable.ArrayBuffer[Map[Long, Doc]]()
    private var nextNo = 0L
    val docsPerDay = 40

    private def addBuyer(): Long = {
      val id = nextBuyer.toLong + 1
      master(id) = Buyers(buyerOrder(nextBuyer))
      nextBuyer += 1
      id
    }
    private def buyerFor(id: Long): String =
      if (rng.chance(0.05)) typo(master(id), rng) else master(id)

    private def newDoc(): Doc = {
      val no = nextNo
      nextNo += 1
      val b = 1L + rng.long(master.size.toLong)
      // about 2% of new notices re-publish an earlier one: the same words
      // with different case and spacing, a planted near-duplicate
      val text =
        if (live.nonEmpty && rng.chance(0.02)) {
          val src = live(rng.recent(live.size.toLong)).text
          src.toUpperCase(java.util.Locale.ROOT).replace(" ", "  ")
        } else rng.text(18 + rng.int(14), f"exp${no}%06d")
      vectors(no) = rng.unitVec(dim)
      Doc(no, (no / docsPerDay).toInt, Statuses(rng.int(2)), 1000L + rng.long(5000000L),
        b, buyerFor(b), text)
    }

    private def amend(d: Doc): Doc = {
      vectors(d.no) = rng.unitVec(dim)
      val next = Statuses(math.min(Statuses.length - 1, Statuses.indexOf(d.status) + 1))
      d.copy(status = next, amountC = d.amountC + 100L + rng.long(50000L),
        text = d.text + " modificación " + rng.word())
    }

    private def record(docs: Iterable[Doc]): Unit = {
      val seg = mutable.HashMap[String, Int]().withDefaultValue(0)
      docs.foreach { d => events += ((d.status, d.buyer, d.amountC)); seg(d.status) += 1 }
      segmentSizes += seg.toMap
      versions += live.toMap
    }

    def base(n: Int, buyers: Int): Seq[Doc] = {
      (0 until buyers).foreach(_ => addBuyer())
      val docs = (0 until n).map { _ => val d = newDoc(); live(d.no) = d; d }
      record(docs)
      docs
    }

    /** Tiers built over the current state count exactly the live rows,
      * as one segment.
      */
    def countLiveOnly(): Unit = {
      events.clear()
      segmentSizes.clear()
      val seg = mutable.HashMap[String, Int]().withDefaultValue(0)
      live.values.foreach { d => events += ((d.status, d.buyer, d.amountC)); seg(d.status) += 1 }
      segmentSizes += seg.toMap
    }

    /** The existing document an amendment or re-delivery targets. */
    private def pickExisting(taken: mutable.Set[Long], picks: Int): Long = {
      var no = rng.recent(nextNo, 2L * picks)
      while (taken(no) || !live.contains(no)) no = rng.recent(nextNo, 2L * picks)
      taken += no
      no
    }

    /** One monthly drop: new notices, amendments of recent ones, and
      * unchanged re-deliveries; also new and renamed buyers.
      */
    def drop(size: Int, mix: Mix): (Seq[Doc], DropTruth, Seq[(Long, String)]) = {
      val nIns = math.round(size * mix.inserts).toInt
      val nUpd = math.round(size * mix.updates).toInt
      val nSame = size - nIns - nUpd
      val newBuyers = (0 until math.max(1, size / 100)).map(_ => addBuyer())
      val renamed = (0 until math.max(1, size / 400)).map { _ =>
        val id = 1L + rng.long(master.size.toLong)
        master(id) = "Excmo. " + master(id).stripPrefix("Excmo. ")
        id
      }.distinct
      val taken = mutable.HashSet[Long]()
      val upd = (0 until nUpd).map(_ => amend(live(pickExisting(taken, nUpd + nSame))))
      val same = (0 until nSame).map(_ => live(pickExisting(taken, nUpd + nSame)))
      val ins = (0 until nIns).map(_ => newDoc())
      (upd ++ ins).foreach(d => live(d.no) = d)
      record(upd ++ ins)
      val batchBuyers = (newBuyers ++ renamed).distinct.map(id => id -> master(id))
      ((upd ++ same ++ ins).sortBy(_.no),
        DropTruth(nIns, nUpd, nSame), batchBuyers)
    }
  }

  // ---------------------------------------------------------- upstream rows

  /** One upstream PLACE row as a drop delivers it (all fields strings). */
  final case class Upstream(id: String, updated: String, status: String,
                            amount: String, buyer: String, title: String,
                            docUrl: String)

  /** Versioned-ingest generator: upstream drops of new notices, new
    * versions and overlapping re-deliveries, and the lake state they imply.
    */
  private val Epoch = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  final class Versioned(seed: Long) {
    val rng = new Rng(seed)
    /** natural key -> the active version's upstream row */
    val active = mutable.LinkedHashMap[String, Upstream]()
    private var nextKey = 0L
    private var clock = 0L
    var tombstones = 0L
    var patches = 0L

    private def ts(): String = {
      clock += 1 + rng.long(30)
      Epoch.plusSeconds(clock).format(TsFormat)
    }
    private def fresh(): Upstream = {
      val k = nextKey
      nextKey += 1
      val b = Buyers(rng.int(Buyers.length))
      Upstream(docUrl(k), ts(), Statuses(rng.int(2)), f"${1000 + rng.long(5000000L)}%d.${rng.int(100)}%02d",
        if (rng.chance(0.04)) typo(b, rng) else b,
        rng.text(6 + rng.int(8), ""), if (k % 10 == 7) "" else s"https://contrataciondelestado.es/doc/$k.pdf")
    }
    private def keyAt(i: Long): String = docUrl(i)

    def bulk(n: Int): Seq[Upstream] = {
      val rows = (0 until n).map(_ => fresh())
      rows.foreach(r => active(r.id) = r)
      rows
    }

    /** One drop of new records, new versions and re-deliveries. */
    def drop(size: Int, newShare: Double, versionShare: Double): Seq[Upstream] = {
      val nNew = math.round(size * newShare).toInt
      val nVer = math.round(size * versionShare).toInt
      val nRe = size - nNew - nVer
      val taken = mutable.HashSet[String]()
      def pick(): String = {
        var k = keyAt(rng.recent(nextKey, 2L * (nVer + nRe)))
        while (taken(k)) k = keyAt(rng.recent(nextKey, 2L * (nVer + nRe)))
        taken += k
        k
      }
      val versions = (0 until nVer).map { _ =>
        val old = active(pick())
        val next = Statuses(math.min(Statuses.length - 1, Statuses.indexOf(old.status) + 1))
        old.copy(updated = ts(), status = next, amount = f"${1000 + rng.long(5000000L)}%d.00")
      }
      val redeliveries = (0 until nRe).map { _ =>
        val old = active(pick())
        // a re-delivery repeats the active version's timestamp; half of
        // them correct a field, which the merge records as a patch
        if (rng.chance(0.5)) old.copy(title = old.title + " corrección") else old
      }
      val news = (0 until nNew).map(_ => fresh())
      versions.foreach(r => active(r.id) = r)
      tombstones += nVer
      redeliveries.foreach { r =>
        if (r != active(r.id)) patches += 1
        active(r.id) = r
      }
      news.foreach(r => active(r.id) = r)
      (versions ++ redeliveries ++ news).sortBy(_.id)
    }
  }
}
