package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

import graft.ops.Explode.EntityPayload

/** Seeded FtM input generator plus the model of what the lake must hold.
  *
  * Entities are Person / Company / Ownership with five property values
  * each. Names, countries and sectors are drawn Zipf-skewed from fixed
  * vocabularies, so name and country facets are shared the way real
  * registries share them. Ids carry a seed tag: two seeds never produce
  * the same ids.
  *
  * Every payload handed to the program is also applied to [[Model]],
  * which predicts live entities, their property values and the
  * statement counts the store must report. Statements are content
  * hashes of (entity, prop, value), so re-emitting an entity with one
  * changed value adds a statement and keeps the old one live; every
  * distinct property set adds one checksum row.
  */
final class Gen(seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  val tag: String = f"${(seed * 0x9E3779B97F4A7C15L) >>> 40}%06x"

  private def syllables(n: Int, salt: Int): IndexedSeq[String] = {
    val on = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Array("a", "e", "i", "o", "u", "ar", "el", "in", "on", "us")
    (0 until n).map { i =>
      val h = (i * 2654435761L + salt) & 0x7fffffff
      val parts = (0 until 2 + (h % 2).toInt).map(j =>
        on(((h >> (3 * j)) % on.length).toInt) + nu(((h >> (3 * j + 7)) % nu.length).toInt))
      val w = parts.mkString
      w.head.toUpper + w.tail + i.toString.takeRight(1)
    }.distinct
  }
  private val firstNames = syllables(300, 11)
  private val lastNames = syllables(1200, 23)
  private val stems = syllables(800, 37)
  private val suffixes = IndexedSeq("Ltd", "GmbH", "LLC", "SA", "Holding", "Trading", "Group")
  val countries: IndexedSeq[String] = IndexedSeq("us", "gb", "de", "fr", "ru", "cn",
    "cy", "vg", "pa", "ch", "nl", "lu", "ae", "hk", "sg", "it", "es", "ua", "kz",
    "tr", "br", "mx", "za", "ng", "in", "jp", "kr", "se", "no", "dk", "pl", "at",
    "be", "ie", "mt", "li", "mc", "bs", "ky", "je")
  private val sectors = IndexedSeq("energy", "mining", "finance", "shipping",
    "construction", "retail", "media", "defence", "agriculture", "telecoms")
  private val roles = IndexedSeq("shareholder", "beneficial owner", "nominee", "trustee")

  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
  private val zFirst = new Zipf(firstNames.size, 1.0)
  private val zLast = new Zipf(lastNames.size, 1.0)
  private val zStem = new Zipf(stems.size, 1.0)
  private val zCountry = new Zipf(countries.size, 1.1)
  private val zSector = new Zipf(sectors.size, 0.8)

  private def date(from: Int, span: Int): String = {
    val d = java.time.LocalDate.of(from, 1, 1).plusDays(rng.nextInt(span * 365).toLong)
    d.toString
  }
  private def pick[A](xs: collection.IndexedSeq[A]): A = xs(rng.nextInt(xs.size))

  private var next = 0
  private val people = mutable.ArrayBuffer.empty[String]
  private val companies = mutable.ArrayBuffer.empty[String]

  private def person(id: String): EntityPayload = EntityPayload(id, "Person", Map(
    "name" -> Seq(s"${firstNames(zFirst.next())} ${lastNames(zLast.next())}"),
    "nationality" -> Seq(countries(zCountry.next())),
    "birthDate" -> Seq(date(1940, 60)),
    "email" -> Seq(s"$id@mail.example"),
    "idNumber" -> Seq(s"ID${rng.nextInt(100000000)}")))

  private def company(id: String): EntityPayload = EntityPayload(id, "Company", Map(
    "name" -> Seq(s"${stems(zStem.next())} ${pick(suffixes)}"),
    "jurisdiction" -> Seq(countries(zCountry.next())),
    "registrationNumber" -> Seq(s"RC${rng.nextInt(100000000)}"),
    "incorporationDate" -> Seq(date(1970, 50)),
    "sector" -> Seq(sectors(zSector.next()))))

  private def ownership(id: String): EntityPayload = {
    val owner =
      if (people.nonEmpty && (companies.isEmpty || rng.nextInt(3) > 0)) pick(people)
      else pick(companies)
    EntityPayload(id, "Ownership", Map(
      "owner" -> Seq(owner),
      "asset" -> Seq(pick(companies)),
      "percentage" -> Seq((1 + rng.nextInt(100)).toString),
      "startDate" -> Seq(date(1990, 30)),
      "role" -> Seq(pick(roles))))
  }

  /** `n` new entities: 45% Person, 35% Company, 20% Ownership (once at
    * least one company exists to own).
    */
  def entities(n: Int): Vector[EntityPayload] = Vector.fill(n) {
    val i = next; next += 1
    val r = rng.nextInt(100)
    if (r < 45 || companies.isEmpty && r >= 80) {
      val id = s"p$tag-$i"; people += id; person(id)
    } else if (r < 80) {
      val id = s"c$tag-$i"; companies += id; company(id)
    } else ownership(s"o$tag-$i")
  }

  /** The same entity re-emitted with one property value changed. */
  def changed(e: EntityPayload): EntityPayload = {
    val (prop, value) = e.schema match {
      case "Person" => "email" -> s"${e.id}.${rng.nextInt(1000000)}@mail.example"
      case "Company" => "sector" -> sectors(zSector.next())
      case _ => "percentage" -> (1 + rng.nextInt(100)).toString
    }
    e.copy(properties = e.properties.updated(prop, Seq(value)))
  }

  def shuffle[A](xs: Seq[A]): Vector[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  def nextInt(n: Int): Int = rng.nextInt(n)
  def nextDouble(): Double = rng.nextDouble()
  def country(): String = countries(zCountry.next())
}

object Gen {
  private val mapper = new ObjectMapper()

  /** Bytes of the payload as one NDJSON line, the input-size unit. */
  def ndjsonBytes(e: EntityPayload): Long = {
    val o = mapper.createObjectNode()
    o.put("id", e.id); o.put("schema", e.schema)
    val p = o.putObject("properties")
    e.properties.toSeq.sortBy(_._1).foreach { case (k, vs) =>
      val a = p.putArray(k); vs.foreach(a.add)
    }
    mapper.writeValueAsString(o).getBytes("UTF-8").length + 1L
  }
}

/** What the lake must hold after the payloads applied so far. */
final class Model {
  final class State(val schema: String) {
    val values = mutable.Map.empty[String, Set[String]]
    val emissions = mutable.Set.empty[Set[(String, String)]]
    var deleted = false
    def statements: Long =
      values.valuesIterator.map(_.size.toLong).sum + emissions.size
  }
  val entities = mutable.LinkedHashMap.empty[String, State]

  def add(e: EntityPayload): Unit = {
    val s = entities.getOrElseUpdate(e.id, new State(e.schema))
    e.properties.foreach { case (k, vs) =>
      s.values(k) = s.values.getOrElse(k, Set.empty) ++ vs
    }
    s.emissions += e.properties.toSeq.flatMap { case (k, vs) => vs.map(k -> _) }.toSet
  }
  def delete(id: String): Unit = entities(id).deleted = true

  def live: Iterator[(String, State)] = entities.iterator.filterNot(_._2.deleted)
  def liveIds: IndexedSeq[String] = live.map(_._1).toIndexedSeq
  def liveEntities: Long = live.size.toLong
  def liveStatements: Long = live.map(_._2.statements).sum
  /** Live rows plus one tombstone per statement of each deleted entity. */
  def rawStatements: Long = entities.valuesIterator.map(_.statements).sum
}
