package lifecyclebench

import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Every expected value a check compares
  * against is derived here from what was planted, with
  * `java.security.MessageDigest`, never by calling the program. */
object Gen {

  /** The reference-hash salt the program documents (its
    * `wikibase.title` analog); part of the hash contract, not code. */
  val Salt = "WikiCitations"

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** H1: md5(salt + value with spaces removed, lower-cased). */
  def refHash(candidate: String): String =
    md5Hex(Salt + candidate.replace(" ", "").toLowerCase(java.util.Locale.ROOT))

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  // ------------------------------------------------------------- wikitext

  /** One cited work. `hash` is null when the work carries no identifier;
    * `fld` is the registered domain of its final url, null without url. */
  final case class Work(id: Long, kind: Int, hash: String, fld: String, ident: String, url: String)

  final case class Page(pageId: Long, title: String, wikitext: String,
      refs: Vector[Work])

  /** Hosts with their registered domain (public-suffix aware). */
  private val hosts: Vector[(String, String)] =
    (0 until 40).map(i => (s"www.site$i.com", s"site$i.com")).toVector ++
      (0 until 15).map(i => (s"news.paper$i.co.uk", s"paper$i.co.uk")) ++
      (0 until 15).map(i => (s"www.journal$i.org", s"journal$i.org")) ++
      Vector(("archive.org", "archive.org"))

  /** The nine date forms the strict loader parses. */
  private val months = Vector("January", "February", "March", "April", "May", "June",
    "July", "August", "September", "October", "November", "December")
  private def date(r: SplittableRandom): String = {
    val y = 1990 + r.nextInt(34); val m = r.nextInt(12); val d = 1 + r.nextInt(28)
    val mon = months(m); val ab = mon.take(3)
    r.nextInt(9) match {
      case 0 => f"$y%04d-${m + 1}%02d-$d%02d"
      case 1 => s"$mon $d, $y"
      case 2 => s"$ab $d, $y"
      case 3 => s"$ab $d, ${y}a"
      case 4 => s"$d $mon $y"
      case 5 => s"$d $ab $y"
      case 6 => s"$mon $y"
      case 7 => s"$ab $y"
      case _ => s"$y"
    }
  }

  private val surnames = Vector("Smith", "Jones", "Garcia", "Nakamura", "Okafor", "Kowalski",
    "Dubois", "Rossi", "Novak", "Haddad", "Larsen", "Silva")
  private val given = Vector("Ann", "Bo", "Chen", "Dana", "Eli", "Femi", "Gita", "Hugo")
  private val words = Vector("history", "river", "economy", "survey", "atlas", "report",
    "notes", "journal", "annual", "review", "census", "archive", "letters", "study")

  private def title(r: SplittableRandom): String =
    (0 until 2 + r.nextInt(5)).map(_ => words(r.nextInt(words.size))).mkString(" ").capitalize

  /** 85 % of works carry an identifier; kind 7 has none. */
  private def newWork(r: SplittableRandom, id: Long): Work = {
    val kind = if (r.nextDouble() >= 0.85) 7 else
      Array(0, 0, 1, 2, 2, 3, 4, 4, 4, 4, 5, 6)(r.nextInt(12))
    val (h, fh) = hosts(r.nextInt(hosts.size))
    val path = s"https://$h/a/$id"
    kind match {
      case 0 =>
        val doi = s"10.${1000 + r.nextInt(9000)}/j.$id"
        val url = if (r.nextBoolean()) path else null
        Work(id, kind, refHash(doi), if (url == null) null else fh, doi, url)
      case 1 => val v = (1000000 + id).toString; Work(id, kind, refHash(v), null, v, null)
      case 2 =>
        val digits = f"978${id % 10000000000L}%010d"
        Work(id, kind, refHash(digits), null, digits, null)
      case 3 => val v = (50000000 + id).toString; Work(id, kind, refHash(v), null, v, null)
      case 4 => Work(id, kind, refHash(path), fh, path, path)
      case 5 =>
        val gb = f"GB${id}%010d".takeRight(12)
        val url = s"https://books.google.com/books?id=$gb"
        Work(id, kind, refHash(url), "google.com", gb, url)
      case 6 => val q = s"Q${100000 + id}"; Work(id, kind, refHash(q), null, q, null)
      case _ => Work(id, kind, null, null, null, null)
    }
  }

  /** Render one occurrence of a work as a citation template. Non-hash
    * fields (author numbering, key aliases, date forms, comments) vary
    * per occurrence; the identifier and url never do. */
  private def render(w: Work, r: SplittableRandom, unknownKey: Boolean): String = {
    val sb = new StringBuilder
    def p(k: String, v: String): Unit = sb.append('|').append(k).append('=').append(v)
    def common(): Unit = {
      p("title", title(r) + (if (r.nextInt(8) == 0) " <!-- verify -->" else ""))
      r.nextInt(4) match {
        case 0 =>
          (1 to 1 + r.nextInt(4)).foreach { i =>
            p(s"last$i", surnames(r.nextInt(surnames.size)))
            p(s"first$i", given(r.nextInt(given.size)))
          }
        case 1 => p("author", s"${given(r.nextInt(given.size))} ${surnames(r.nextInt(surnames.size))}")
        case 2 => p("vauthors", s"${surnames(r.nextInt(surnames.size))} A, ${surnames(r.nextInt(surnames.size))} B")
        case _ => p("author-link1", surnames(r.nextInt(surnames.size)))
      }
      p(Vector("date", "publication-date", "year")(r.nextInt(3)), date(r))
      p(Vector("access-date", "accessdate", "access_date")(r.nextInt(3)), date(r))
      r.nextInt(6) match {
        case 0 => p("publisher", s"[[${surnames(r.nextInt(surnames.size))} Press|Press]]")
        case 1 => p("lang", "en")
        case 2 => p("place", "London"); p("location", "Paris")
        case 3 => p("archive-url", s"https://web.archive.org/web/2019/${w.id}"); p("archive-date", date(r))
        case _ => ()
      }
      if (unknownKey) p("via-tool", "x")
    }
    w.kind match {
      case 0 =>
        sb.append(if (r.nextBoolean()) "{{cite journal" else "{{Cite journal")
        p("doi", w.ident); if (w.url != null) p("url", w.url); p("journal", "Annals"); common()
      case 1 => sb.append("{{cite journal"); p("pmid", w.ident); common()
      case 2 =>
        if (r.nextInt(3) == 0 && !unknownKey) {
          // bare {{ISBN|…}} with the isbn as positional parameter 1
          return s"{{ISBN|${hyphenIsbn(w.ident, r)}}}"
        }
        sb.append("{{cite book")
        p(if (r.nextBoolean()) "isbn" else "ISBN", hyphenIsbn(w.ident, r)); common()
      case 3 => sb.append("{{cite book"); p("oclc", w.ident); common()
      case 4 =>
        if (r.nextInt(4) == 0 && !unknownKey) return s"{{url|${w.url}}}"
        sb.append(Vector("{{cite web", "{{cite news", "{{citation", "{{Cite web")(r.nextInt(4)))
        p("url", w.url); p("website", w.fld); if (r.nextBoolean()) p("class", "a"); common()
      case 5 =>
        sb.append("{{cite book")
        p("url", s"{{google books|${w.ident}|page=${1 + r.nextInt(400)}}}"); common()
      case 6 =>
        if (unknownKey) { sb.append("{{cite q|").append(w.ident); p("via-tool", "x") }
        else sb.append("{{cite q|").append(w.ident)
      case _ =>
        sb.append(if (r.nextBoolean()) "{{cite news" else "{{citation"); common()
    }
    sb.append("}}").toString
  }

  private def hyphenIsbn(d: String, r: SplittableRandom): String = r.nextInt(3) match {
    case 0 => d
    case 1 => s"${d.take(3)}-${d.slice(3, 4)}-${d.slice(4, 8)}-${d.slice(8, 12)}-${d.drop(12)}"
    case _ => s"${d.take(3)} ${d.slice(3, 7)} ${d.drop(7)}"
  }

  /** A page's wikitext: prose, non-citation templates, a commented-out
    * citation and a parser function around one citation, plus `refs`
    * rendered in order. Returns the text and the accepted references
    * (supported template, no unknown key) in document order. */
  private def pageText(r: SplittableRandom, refs: Seq[(Work, Boolean)],
      dupOf: Map[Int, Int]): (String, Vector[Work]) = {
    val sb = new StringBuilder
    sb.append("{{Infobox settlement|name=Somewhere|population=12}}\n'''Lead''' text.\n")
    val rendered = mutable.ArrayBuffer.empty[String]
    val accepted = Vector.newBuilder[Work]
    refs.zipWithIndex.foreach { case ((w, unknown), i) =>
      val t = dupOf.get(i).map(rendered(_)).getOrElse(render(w, r, unknown))
      rendered += t
      if (!unknown) accepted += w
      r.nextInt(20) match {
        case 0 => sb.append("{{#if:yes|").append(t).append("|}}")
        case 1 => sb.append("<ref>").append(t).append("</ref>{{citation needed|date=May 2020}}")
        case _ => sb.append("Some prose.<ref>").append(t).append("</ref>\n")
      }
      if (i % 7 == 3) sb.append("<!-- {{cite web|url=https://hidden.example.com/x}} -->")
    }
    sb.append("\n==References==\n{{reflist}}\n")
    (sb.toString, accepted.result())
  }

  /** References per page: log-normal (median about 6, at most 40), then
    * nudged one at a time until they total 7 per page, so that every seed
    * imports as many; one page in a hundred, at a fixed position, carries
    * 200. */
  private def refCounts(r: SplittableRandom, n: Int): Array[Int] = {
    val heavy = (i: Int) => i % 100 == 50
    val k = Array.tabulate(n)(i =>
      if (heavy(i)) 200 else math.min(40, math.exp(r.nextGaussian() * 0.8 + 1.8).toInt))
    val normal = (0 until n).filterNot(heavy).toVector
    var total = normal.map(k(_)).sum
    while (normal.nonEmpty && total != 7 * normal.size) {
      val i = normal(r.nextInt(normal.size))
      if (total < 7 * normal.size && k(i) < 40) { k(i) += 1; total += 1 }
      else if (total > 7 * normal.size && k(i) > 0) { k(i) -= 1; total -= 1 }
    }
    k
  }

  /** A wiki snapshot of `n` pages with ids from `firstId`. Shared
    * citations come from a pool of popular works; 4 % of references
    * repeat one earlier in the same page (exact copy); 3 % carry an
    * unknown key that strict-load rejects. */
  final class Wiki(seed: Long, stream: Long, n: Int, firstId: Long) {
    private val r = rng(seed, stream)
    private var nextWork = firstId * 1000
    private def fresh(): Work = { nextWork += 1; newWork(r, nextWork) }
    val pool: Vector[Work] = Vector.fill(math.max(50, n))(fresh())
    private def cite(): Work =
      if (r.nextInt(4) == 0) pool((pool.size * math.pow(r.nextDouble(), 2)).toInt) else fresh()

    private val counts = refCounts(r, n)
    val pages: Vector[Page] = (0 until n).map { i =>
      val k = counts(i)
      val picks = mutable.ArrayBuffer.empty[(Work, Boolean)]
      val dupOf = mutable.Map.empty[Int, Int]
      (0 until k).foreach { j =>
        if (j > 0 && r.nextInt(25) == 0) {
          val src = r.nextInt(j); dupOf(j) = src; picks += picks(src)
        } else picks += ((cite(), r.nextInt(33) == 0))
      }
      val (text, acc) = pageText(r, picks.toSeq, dupOf.toMap)
      Page(firstId + i, s"Page_${firstId + i}", text, acc)
    }.toVector

    /** The page re-rendered with `extra` new citations appended (an edit). */
    def edited(p: Page, extra: Int): Page = {
      val adds = (0 until extra).map(_ => (cite(), false))
      val (tail, acc) = pageText(r, adds, Map.empty)
      Page(p.pageId, p.title, p.wikitext + tail, p.refs ++ acc)
    }

    def newPage(id: Long): Page = {
      val adds = (0 until 1 + r.nextInt(6)).map(_ => (cite(), false))
      val (text, acc) = pageText(r, adds, Map.empty)
      Page(id, s"Page_$id", text, acc)
    }
  }

  /** What the program must produce from `pages`: references after
    * strict-load and in-page dedup (first occurrence of a hash wins,
    * hash-less references always kept). */
  final case class Expect(refRows: Long, hashedRows: Long, hashes: Set[String],
      websites: Set[String], perPage: Map[Long, Int])

  def expect(pages: Seq[Page]): Expect = {
    var rows = 0L; var hashed = 0L
    val hs = mutable.HashSet.empty[String]; val ws = mutable.HashSet.empty[String]
    val per = mutable.HashMap.empty[Long, Int]
    pages.foreach { p =>
      val seen = mutable.HashSet.empty[String]
      var c = 0
      p.refs.foreach { w =>
        if (w.hash == null || seen.add(w.hash)) {
          c += 1
          if (w.hash != null) { hashed += 1; hs += w.hash }
          if (w.fld != null) ws += w.fld
        }
      }
      rows += c; per(p.pageId) = c
    }
    Expect(rows, hashed, hs.toSet, ws.toSet, per.toMap)
  }

  // -------------------------------------------------------------- events

  /** One recent-change event carrying the page body it announces. */
  final case class Event(server: String, namespace: Int, title: String, tsMicros: Long,
      pageId: Long, wikitext: String)

  /** A backlog of `files` event files of `perFile` events against the
    * base snapshot. Per slot: an edit (new citations appended), a null
    * edit (same text, dropped by the content-hash gate), a new page, an
    * identical re-delivery of an event up to one file back (dropped by
    * the watermark dedup), or an event of another wiki or namespace
    * (filtered). Each title is announced once apart from re-deliveries,
    * and file `f` holds times in [f·10 min, (f+1)·10 min), so nothing is
    * late and every re-delivery is inside the one-hour watermark.
    * Returns the files and the pages the replay must ingest. */
  def events(seed: Long, base: Wiki, files: Int, perFile: Int, newIdFrom: Long)
      : (Vector[Vector[Event]], Vector[Page]) = {
    val r = rng(seed, 77)
    val order = base.pages.indices.toVector.sortBy(_ => r.nextLong())
    var next = 0
    var newId = newIdFrom
    val admitted = Vector.newBuilder[Page]
    val t0 = 1700000000000000L
    val out = mutable.ArrayBuffer.empty[Vector[Event]]
    (0 until files).foreach { f =>
      val evs = mutable.ArrayBuffer.empty[Event]
      def ts() = t0 + f * 600000000L + r.nextInt(600000000)
      def en(p: Page) = Event("en.wikipedia.org", 0, p.title, ts(), p.pageId, p.wikitext)
      (0 until perFile).foreach { _ =>
        val u = r.nextInt(100)
        val prevPool = evs.filter(_.server == "en.wikipedia.org").toVector ++
          (if (f > 0) out(f - 1).filter(_.server == "en.wikipedia.org") else Vector.empty)
        if (u < 15 && prevPool.nonEmpty) evs += prevPool(r.nextInt(prevPool.size))
        else if (u < 25) {
          val p = base.pages(r.nextInt(base.pages.size))
          evs += (if (r.nextBoolean()) en(p).copy(server = "de.wikipedia.org")
                  else en(p).copy(namespace = 1))
        } else if (u < 35) {
          newId += 1
          val p = base.newPage(newId); admitted += p; evs += en(p)
        } else if (next < order.size) {
          val p = base.pages(order(next)); next += 1
          if (u < 50) evs += en(p) // null edit
          else { val e = base.edited(p, 1 + r.nextInt(3)); admitted += e; evs += en(e) }
        }
      }
      out += evs.toVector
    }
    (out.toVector, admitted.result())
  }

  // ---------------------------------------------------------------- docs

  final case class Doc(id: Long, cluster: Int, text: String)

  /** `n` documents of 40–80 words over a 5,000-word vocabulary. About
    * 40 % sit in planted near-duplicate clusters of 2–6 members, with a
    * few of 10–30: variants of one source text with two words replaced.
    * Every other document is its own cluster (`cluster` = -1 - id). */
  def docs(seed: Long, n: Int): Vector[Doc] = {
    val r = rng(seed, 91)
    def text(len: Int) = Vector.fill(len)(s"w${r.nextInt(5000)}")
    val out = Vector.newBuilder[Doc]
    var id = 0L; var cl = 0
    while (id < n) {
      val src = text(40 + r.nextInt(41))
      if (r.nextInt(100) < 17) {
        val size = math.min(n - id, if (r.nextInt(12) == 0) 10 + r.nextInt(21) else 2 + r.nextInt(5)).toInt
        (0 until size).foreach { _ =>
          val v = (0 until 2).foldLeft(src)((t, _) => t.updated(r.nextInt(t.size), s"x${r.nextInt(5000)}"))
          out += Doc(id, cl, v.mkString(" ")); id += 1
        }
        cl += 1
      } else { out += Doc(id, (-1 - id).toInt, src.mkString(" ")); id += 1 }
    }
    out.result()
  }

  /** Distinct word trigrams, the program's shingle contract. */
  def shingles(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val c = a.count(b.contains)
    c.toDouble / (a.size + b.size - c)
  }

  // ---------------------------------------------------------------- tree

  /** A category forest of `n` nodes: a spine reaching `depth`, then
    * nodes hung under random shallower nodes, with 5 % of attachments
    * going to one of a few hubs (fan-out skew). Returns (child, parent)
    * edges and each node's depth. */
  def tree(seed: Long, n: Int, depth: Int): (Vector[(Long, Long)], Map[Long, Int]) = {
    val r = rng(seed, 113)
    val d = mutable.ArrayBuffer[Int](0)
    val edges = Vector.newBuilder[(Long, Long)]
    (1 to depth).foreach { i => edges += ((i.toLong, (i - 1).toLong)); d += i }
    val hubs = (0 to math.min(depth - 1, 3)).toVector
    (depth + 1 until n).foreach { i =>
      val parent =
        if (r.nextInt(20) == 0) hubs(r.nextInt(hubs.size))
        else { var p = r.nextInt(i); while (d(p) >= depth) p = r.nextInt(i); p }
      edges += ((i.toLong, parent.toLong)); d += d(parent) + 1
    }
    (edges.result(), d.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap)
  }
}
