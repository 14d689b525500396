package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every public `def` in `src/main/scala` has a caller in `src/main/scala`
  * (outside its own definition) or in `perfbench/src`, or is on the
  * allowlist below with its reason. A spec is not a caller: code only
  * specs reach is cost without use. No Spark session — a source scan.
  *
  * The scan is by name: comments and string literals are dropped (an
  * interpolated string's `$x` and `${...}` parts stay code), a `def`
  * whose modifiers say `private`, `protected` or `override` is skipped,
  * and a name counts as called when it occurs more often than it is
  * defined. Two unrelated defs sharing a name therefore vouch for each
  * other; the check errs towards passing, never towards a false alarm.
  */
class ReachabilitySpec extends AnyFunSuite {

  /** Public defs with no caller in main code or perfbench, each with
    * the reason it stays. */
  private val Allowed: Map[String, String] = Map(
    "entry" -> "documented API: SparkEntry.entry, the flagship smoke-check entry",
    "fromDotenv" -> "documented API: EngineConfig's .env loader (godotenv parity)",
    "esTransportFactory" -> "documented API: EngineConfig's bulk-sink transport",
    "toJsonDocs" -> "documented API: README O7/O9 row-to-JSON marshalling",
    "bm25TopK" -> "documented API: README names it the BM25 serving call",
    "bm25" -> "reference: Search.bm25 is what the segment tier's BM25 is checked against",
    "simhashBits" -> "reference: the simhash_bands_agg spec compares against it",
    "ngramCandidates" -> "reference: prefixFilter = false checks the pruned candidates",
    "ivfTopKLearned" -> "reference: the staged IVF probe is checked against it",
    "retireGenerations" -> "maintenance API: segment-index generation reclaim (ROADMAP item 4)",
    "vacuumIndexStaging" -> "maintenance API: crashed IVF staging reclaim (ROADMAP item 4)",
    "pruneRebaseMarkers" -> "maintenance API: CDC-log rebase marker retention (ROADMAP item 4)")

  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** Source text with comments and string literal contents removed. */
  private def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(p: String) = src.startsWith(p, i)
    while (i < n) {
      val c = src(i)
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) { // Scala block comments nest
        var depth = 0
        var done = false
        while (i < n && !done) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2; done = depth == 0 }
          else i += 1
        }
        out += ' '
      } else if (c == '"') {
        val interp = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
        val quote = if (at("\"\"\"")) "\"\"\"" else "\""
        i += quote.length
        while (i < n && !at(quote)) {
          if (quote == "\"" && src(i) == '\\') i += 2
          else if (interp && at("${")) {
            var depth = 0
            var done = false
            while (i < n && !done) {
              if (src(i) == '{') depth += 1
              else if (src(i) == '}') { depth -= 1; done = depth == 0 }
              out += src(i)
              i += 1
            }
            out += ' '
          } else if (interp && src(i) == '$' && i + 1 < n &&
              (src(i + 1).isLetter || src(i + 1) == '_')) {
            out += ' '
            i += 1
            while (i < n && (src(i).isLetterOrDigit || src(i) == '_')) {
              out += src(i)
              i += 1
            }
            out += ' '
          } else i += 1
        }
        i += quote.length
        // a triple-quoted literal may end in extra quotes: """a""""
        if (quote.length == 3) while (i < n && src(i) == '"') i += 1
        out ++= "\"\""
      } else if (c == '\'' && i + 1 < n && src(i + 1) == '\\') {
        i = src.indexOf('\'', i + 3) + 1 // '\n', '\'', '\u0000'
        out ++= "' '"
      } else if (c == '\'' && i + 2 < n && src(i + 2) == '\'') {
        i += 3 // 'x'
        out ++= "' '"
      } else {
        out += c
        i += 1
      }
    }
    out.toString
  }

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val DefName = """\bdef\s+([A-Za-z_][A-Za-z0-9_]*)"""
  private val LineDef = ("(?m)^(.*?)" + DefName).r
  private val Hidden = """\b(private|protected|override)\b""".r

  /** Public defs (name -> files) that nothing outside their own
    * definition names. */
  private def uncalled(mainDir: String, otherDirs: Seq[String])
      : Map[String, Set[Path]] = {
    val main = scalaFiles(mainDir).map(f => f -> code(Files.readString(f)))
    val others = otherDirs.flatMap(scalaFiles).map(f => code(Files.readString(f)))
    def count(names: Seq[String]) = names.groupMapReduce(identity)(_ => 1)(_ + _)
    val defined = count(main.flatMap { case (_, s) =>
      DefName.r.findAllMatchIn(s).map(_.group(1)) })
    val used = count((main.map(_._2) ++ others).flatMap(Ident.findAllIn(_)))
    main.flatMap { case (f, s) =>
      LineDef.findAllMatchIn(s)
        .filter(m => Hidden.findFirstIn(m.group(1)).isEmpty)
        .map(m => m.group(2) -> f)
    }.filter { case (n, _) => used.getOrElse(n, 0) <= defined.getOrElse(n, 0) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
  }

  test("every public def in src/main/scala has a caller in main code or " +
    "perfbench, or an allowlisted reason") {
    val dead = uncalled("src/main/scala", Seq("perfbench/src"))
    val unexplained = dead.filter { case (n, _) => !Allowed.contains(n) }
    assert(unexplained.isEmpty,
      "public defs nothing calls (delete them, or allowlist with a reason):\n" +
        unexplained.toSeq.sortBy(_._1).map { case (n, fs) =>
          s"  $n in ${fs.mkString(", ")}" }.mkString("\n"))
    // an allowlist entry whose def gained a caller or went away is stale
    val stale = Allowed.keySet -- dead.keySet
    assert(stale.isEmpty, s"allowlisted names that no longer need it: $stale")
  }

  test("the scan drops comments and strings, keeps interpolated code, " +
    "and skips private, protected and override defs") {
    val src =
      """object A {
        |  def called(x: Int) = x // uncalled() in a comment
        |  /* uncalled() /* nested */ still a comment */
        |  def uncalled = "uncalled()"
        |  def viaInterp = s"${called(1)} $viaDollar"
        |  def viaDollar = 1
        |  private def hidden = 0
        |  override def toString = "A"
        |  val q = '"'
        |  val e = '\''
        |  def afterQuote = 2
        |}
        |""".stripMargin
    val dir = Files.createTempDirectory("reach")
    try {
      Files.writeString(dir.resolve("A.scala"), src)
      assert(uncalled(dir.toString, Nil).keySet ==
        Set("uncalled", "viaInterp", "afterQuote"))
    } finally {
      Files.deleteIfExists(dir.resolve("A.scala"))
      Files.deleteIfExists(dir)
    }
  }
}
