package labelbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.sources.DirectoryPageFetcher

/** One row of the flat label store: (addr, name, date, type, desc, src). */
final case class Label(addr: String, name: String, date: String, typ: String,
                       desc: String, src: String)

/** One version of a chainabuse report, as its GraphQL node carries it.
  * `rev` rides in `biDirectionalVoteCount`, so a changed report is a new
  * (id, rev) pair and a verbatim re-report repeats the stored pair. */
final case class Report(id: String, rev: Long, createdAt: String, category: String,
                        description: String, addrs: Vector[(String, String)]) {
  def labels: Vector[Label] =
    addrs.map { case (a, chain) => Label(a, category, createdAt, chain, "", "chainAbuse") }
}

/** Seeded text source. Every input the benchmark feeds the library comes
  * from one of these, so one seed gives byte-identical inputs. */
final class Rng(seed: Long) {
  private val r = new SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def chance(p: Double): Boolean = r.nextDouble() < p
  def double(): Double = r.nextDouble()
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  // base58 has no 'l', so no generated address can contain the "limit"
  // substring that walletexplorer's rate-limit detector looks for
  private val B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
  private val Hex = "0123456789abcdef"
  private def chars(alpha: String, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(alpha.charAt(r.nextInt(alpha.length))); i += 1 }
    sb.toString
  }
  def btcAddr(): String = "1" + chars(B58, 33)
  def ethAddr(): String = "0x" + chars(Hex, 40)
  /** (address, chain), drawn like the stored addresses. */
  def chainAddr(): (String, String) = if (chance(0.7)) (btcAddr(), "BTC") else (ethAddr(), "ETH")
  def day(): String = f"20${18 + int(7)}%02d-${1 + int(12)}%02d-${1 + int(28)}%02d"
  def instant(): String = f"${day()}T${int(24)}%02d:${int(60)}%02d:${int(60)}%02d"
  def words(lo: Int, hi: Int): String = Seq.fill(between(lo, hi))(pick(Rng.Vocab)).mkString(" ")
}

object Rng {
  /** Words for free text. None contains "limit", and none needs XML or
    * JSON escaping. */
  val Vocab: IndexedSeq[String] = ("sent funds to this address after a fake support call " +
    "the wallet promised double returns on every deposit withdrawal never arrived " +
    "victim lost savings through an investment group that vanished overnight " +
    "email demanded payment or private photos would be published phishing site " +
    "copied the exchange login page and drained the account").split(' ').toVector
}

/** Writes page spools the way a crawler leaves them: one file per page,
  * `page-<cursor>`, plus the `_manifest` the directory fetcher reads. */
object Spool {
  def write(dir: Path, ext: String, pages: Seq[(Long, String)]): Unit = {
    Files.createDirectories(dir)
    pages.foreach { case (c, body) => Files.write(dir.resolve(s"page-$c.$ext"), body.getBytes(UTF_8)) }
    DirectoryPageFetcher.writeManifest(dir.toString)
  }
}

/** Renders pages in each source's wire format. The markup is the shape
  * the pipelines' own XPaths and regexes read. */
object Render {
  def bitcoinAbuseDetail(addr: String, rows: Seq[(String, String, String)]): String =
    rows.map { case (d, t, desc) => s"<tr><td>$d</td><td>$t</td><td>$desc</td></tr>" }
      .mkString(s"""<html><body><div><main><div><a href="/reports/$addr">$addr</a></div>""" +
        "<div><table><tbody>", "", "</tbody></table></div></main></div></body></html>")

  def walletHome(dir: Seq[(String, Seq[String])]): String =
    dir.map { case (heading, wallets) =>
      wallets.map(w => s"""<li><a href="/wallet/$w">$w</a></li>""")
        .mkString(s"<td><h3>$heading</h3><ul>", "", "</ul></td>")
    }.mkString("<html><body><table><tbody><tr>", "", "</tr></tbody></table></body></html>")

  def walletAddrs(rows: Seq[(String, String)]): String =
    rows.map { case (a, bal) => s"<tr><td>$a</td><td>$bal</td></tr>" }
      .mkString("<html><body><table><tbody>", "", "</tbody></table></body></html>")

  val RateLimited = "<html><body><p>Too many requests, slow down</p></body></html>"

  def graphql(edges: Seq[(Long, Report)], more: Boolean): String = {
    val sb = new StringBuilder
    sb.append("""{"data":{"reports":{"pageInfo":{"hasNextPage":""").append(more)
      .append(""","endCursor":"""").append(edgeCursor(edges.last._1)).append("\"},\"edges\":[")
    edges.zipWithIndex.foreach { case ((c, r), i) =>
      if (i > 0) sb.append(',')
      sb.append("""{"cursor":"""").append(edgeCursor(c)).append("""","node":{"id":"""")
        .append(r.id).append("""","isPrivate":false,"createdAt":"""").append(r.createdAt)
        .append("""","scamCategory":"""").append(r.category)
        .append("""","description":"""").append(r.description)
        .append("""","biDirectionalVoteCount":""").append(r.rev)
        .append(""","commentsCount":0,"source":"chainabuse","checked":true,"addresses":[""")
      r.addrs.zipWithIndex.foreach { case ((a, chain), j) =>
        if (j > 0) sb.append(',')
        sb.append("""{"id":"""").append(r.id).append('-').append(j)
          .append("""","address":"""").append(a).append("""","chain":"""").append(chain)
          .append("""","domain":null,"label":null}""")
      }
      sb.append("""],"__typename":"Report"},"__typename":"ReportEdge"}""")
    }
    sb.append("""],"count":""").append(edges.size).append(""","totalCount":""").append(edges.size)
      .append("}}}")
    sb.toString
  }

  /** A GraphQL error response: valid JSON with no `data.reports`, which
    * the chainabuse pipeline routes to its dead-letter side. */
  val GraphqlError = """{"errors":[{"message":"upstream timeout, retry later"}],"data":null}"""

  def edgeCursor(c: Long): String = f"$c%019d"
}

/** Chainabuse report history: renders pages of new reports, revisions
  * and verbatim re-reports, and keeps the latest version of every id as
  * ground truth. */
final class ReportBook(rng: Rng) {
  private val latest = scala.collection.mutable.LinkedHashMap.empty[String, Report]
  private val ids = scala.collection.mutable.ArrayBuffer.empty[String]
  private var nextId = 0L
  private var nextCursor = 0L

  private val Categories = Vector("PHISHING", "RUG_PULL", "SEXTORTION", "RANSOMWARE",
    "FAKE_RETURNS", "IMPERSONATION", "CONTRACT_EXPLOIT", "OTHER")

  def current: collection.Map[String, Report] = latest
  def size: Int = ids.size

  def fresh(): Report = {
    val id = s"rep${nextId}"
    nextId += 1
    val r = Report(id, 0L, rng.instant(), rng.pick(Categories), rng.words(6, 24),
      Vector.fill(rng.between(1, 3))(rng.chainAddr()))
    latest(id) = r; ids += id
    r
  }

  /** A new revision of stored report `id`: new category, description
    * and, sometimes, one more address. */
  def revise(id: String): Report = {
    val old = latest(id)
    val r = old.copy(rev = old.rev + 1, category = rng.pick(Categories),
      description = rng.words(6, 24),
      addrs = if (rng.chance(0.3)) old.addrs :+ rng.chainAddr() else old.addrs)
    latest(id) = r
    r
  }

  /** `n` distinct stored ids, none of them in `exclude`. */
  def sampleIds(n: Int, exclude: collection.Set[String]): Vector[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val id = ids(rng.int(ids.size))
      if (!exclude.contains(id)) out += id
    }
    out.toVector
  }

  def cursor(): Long = { nextCursor += 1; nextCursor }
}
