package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The STRICT Lucene `query_string` grammar — ES's power-user query
  * box (`query_string` query), the full-syntax counterpart of the
  * lenient [[SegmentedIndex.simpleQueryString]]: field prefixes
  * (`meta:src3`), boolean operators with grouping
  * (`(a AND b) OR NOT c`, `&&`/`||`/`!` accepted as Lucene does),
  * unary occurrence modifiers (`+must -must_not`, Lucene's
  * MUST/MUST_NOT prefixes), quoted phrases with optional slop
  * (`"a b"~2`), per-clause boosts (`spark^2`), GROUP boosts
  * (`(a b)^2`), and multi-term leaves (`cust*`, `d?ta*`, `term~1`).
  * The two parse contracts are deliberately OPPOSITE and both are
  * ES's: a malformed `simple_query_string` degrades silently, a
  * malformed `query_string` is a 400 — here an
  * [[IllegalArgumentException]] from the parser (unbalanced parens,
  * dangling operators or modifiers, empty groups, malformed boosts,
  * boosts on filter-context leaves all error loudly).
  *
  * The reference delegates all querying to Elasticsearch
  * (`api/controllers/elastic_controller.go:184-250` indexes; search
  * runs in ES) — this module executes the query natively on the
  * segmented-index machinery.
  *
  * Semantics, stated precisely:
  *  - grammar (precedence low→high): `OR` < `AND` < unary `NOT` <
  *    primary; ADJACENCY is OR (`default_operator: OR`, ES's
  *    default — "a b" parses as "a OR b"); a clause list where any
  *    element carries a `+`/`-` modifier becomes Lucene's BOOLEAN
  *    CLAUSE LIST instead (must / must_not / should): the doc must
  *    match every `+` clause, no `-` clause, and (when no `+` clause
  *    exists) at least one unmodified clause. Modifiers bind whole
  *    clause-list elements; a modifier anywhere else (e.g. after
  *    `AND`) errors — the strict contract, stated;
  *  - each clause addresses a FIELD ([[SegmentedIndex
  *    .multiMatchSearch]]'s field model: every analyzed field is its
  *    own postings family over a shared doc-id space — `require`d to
  *    BE shared: the mapped families must report the same corpus doc
  *    count, the [[SegmentedIndex.combinedFieldsSearch]] precondition,
  *    because the negation base below reads only the default field's
  *    family); unprefixed clauses hit `defaultField`; an unknown
  *    field prefix errors (ES with `lenient: false`);
  *  - each clause analyzes with ITS field's chain; a clause whose
  *    terms all analyze away DROPS from the tree (Lucene discards
  *    the clause, not the query — a dropped `+` clause drops its
  *    requirement with it); a clause analyzing to SEVERAL tokens
  *    becomes their OR (Lucene's multi-token query-time expansion —
  *    the synonym-chain behavior);
  *  - `NOT x` is match-all-minus-x (Lucene's pure-negative rewrite);
  *    the candidate base widens to a corpus read (one id-column
  *    stored read of the default field's family — the cost ES itself
  *    pays, stated) ONLY when the tree genuinely needs it: any
  *    conjunction (AND, or a bool list with `+`/unmodified clauses)
  *    containing at least one corpus-free positive kid is bounded by
  *    that kid's leaf docs — the `a AND NOT b` anti-join peephole,
  *    generalized over the whole tree;
  *  - scoring is Lucene's NESTED boolean sum, not a flat one: a
  *    term clause contributes boost·tf·(N_f/df_f) with its FIELD's
  *    own statistics, a disjunction sums its MATCHING kids, and a
  *    conjunction that fails contributes ZERO even when some of its
  *    terms match (`(a AND b) OR c`: a doc holding only `a` and `c`
  *    scores c alone). A bool clause list sums its matching must and
  *    should clauses (must_not never scores); a GROUP boost
  *    multiplies its group's whole score. A clause appearing twice
  *    scores twice (Lucene sums duplicate clauses). Phrases GATE
  *    candidacy but score zero (filter context — [[SegmentedIndex
  *    .simpleQueryString]]'s stated posture), and a boost on a phrase
  *    is REJECTED like a boost on `_exists_` — a boost on a
  *    filter-context leaf is meaningless and this module's contract
  *    is that malformed input errors loudly, never silently drops;
  *    phrase slop routes two-term phrases through [[SegmentedIndex
  *    .sloppyPhraseSearch]]'s move arithmetic (n-term sloppy phrases
  *    are that operator's stated out-of-scope); `n_terms_hit` counts
  *    distinct positive (field, term) pairs matched;
  *  - multi-term leaves (`cust*` prefix, `d?ta*` wildcard, `term~1`
  *    fuzzy) take Lucene's constant-score rewrite: matched docs score
  *    boost·1.0 (expansions deliberately not idf-weighted, ES's
  *    default). Expansions walk the vocabulary-sized dictionaries —
  *    prefix by footer-pruned `startsWith`, wildcard by the anchored
  *    automaton regex ([[SegmentedIndex.wildcardSearch]]'s
  *    translation; leading-`*` walks the whole dictionary, ES's own
  *    documented caveat), fuzzy by SymSpell deletion-variant BLOCKING
  *    ([[Fuzzy.delAutoExpr]] — the engine's one fuzzy-walk scheme,
  *    recall-1 at the allowed distance; never a full-vocabulary
  *    levenshtein scan) — all under the 50-term cap.
  *
  * Cost shape: ONE bucket-pruned postings read per involved field
  * (the union of that field's clause terms — the `_msearch`
  * amortization), one column pair per distinct (field, term) in a
  * per-doc leaf matrix built by ONE conditional aggregation per
  * field (r18: pairs share their field's postings pass instead of
  * each paying a join) and met across fields/leaf kinds in
  * O(frames) id joins; the boolean tree
  * folds over the columns as driver-composed fixed-order
  * expressions (deterministic doubles — the hash-oracle surface).
  * No corpus scan except the stated pure-negative base.
  */
object QueryString {

  // ---- AST ----
  private[graft] sealed trait Node
  private[graft] case class TermNode(field: Option[String],
      text: String, boost: Double) extends Node
  private[graft] case class PhraseNode(field: Option[String],
      words: Seq[String], slop: Int) extends Node
  private[graft] case class RangeNode(field: String, lo: Long,
      hi: Long) extends Node
  private[graft] case class ExistsNode(field: String) extends Node
  private[graft] case class PrefixNode(field: Option[String],
      stem: String, boost: Double) extends Node
  private[graft] case class WildcardNode(field: Option[String],
      pattern: String, boost: Double) extends Node
  private[graft] case class FuzzyNode(field: Option[String],
      term: String, maxEdits: Int, boost: Double) extends Node
  private[graft] case class AndNode(kids: Seq[Node]) extends Node
  private[graft] case class OrNode(kids: Seq[Node]) extends Node
  private[graft] case class NotNode(kid: Node) extends Node
  /** Lucene's boolean clause list, produced by `+`/`-` modifiers. */
  private[graft] case class BoolNode(must: Seq[Node],
      mustNot: Seq[Node], should: Seq[Node]) extends Node
  /** A `(group)^boost` — the boost scales the group's score. */
  private[graft] case class BoostNode(kid: Node, boost: Double)
    extends Node

  // ---- tokenizer ----
  private[graft] sealed trait Tok
  private[graft] case object LP extends Tok
  private[graft] case class RPT(boost: Double) extends Tok
  private[graft] case object AndT extends Tok
  private[graft] case object OrT extends Tok
  private[graft] case object NotT extends Tok
  private[graft] case object PlusT extends Tok
  private[graft] case object MinusT extends Tok
  private[graft] case class Leaf(node: Node) extends Tok

  private val FieldPrefix = """([A-Za-z_][A-Za-z0-9_]*):""".r
  private val BoostSuffix = """\^(\d+(?:\.\d+)?)""".r
  private val SlopSuffix = """~(\d+)""".r

  /** `term~N` fuzzy syntax: N in {1, 2} (Lucene's edit bound). */
  private val FuzzySyntax = """([^~*?]+)~([12])""".r

  /** Expansion cap for prefix/wildcard/fuzzy leaves — ES's
    * fuzzy/prefix rewrite ceiling (`max_expansions`, default 50). */
  val MaxLeafExpansions: Int = 50

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"query_string parse error: $msg")

  private[graft] def tokenize(q: String): Seq[Tok] = {
    val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
    var i = 0
    val n = q.length
    def boostAt(j: Int): (Double, Int) =
      if (j < n && q(j) == '^') {
        BoostSuffix.findPrefixMatchOf(q.substring(j)) match {
          case Some(m) => (m.group(1).toDouble, j + m.matched.length)
          case None    => fail(s"malformed boost at offset $j")
        }
      } else (1.0, j)
    while (i < n) {
      q(i) match {
        case c if c.isWhitespace => i += 1
        case '(' => toks += LP; i += 1
        case ')' =>
          val (b, j) = boostAt(i + 1)
          toks += RPT(b); i = j
        case '!' => toks += NotT; i += 1
        case '+' => toks += PlusT; i += 1
        case '-' => toks += MinusT; i += 1
        case '&' =>
          if (i + 1 < n && q(i + 1) == '&') { toks += AndT; i += 2 }
          else fail(s"lone '&' at offset $i")
        case '|' =>
          if (i + 1 < n && q(i + 1) == '|') { toks += OrT; i += 2 }
          else fail(s"lone '|' at offset $i")
        case _ =>
          // optional field prefix, then phrase or bare term
          val field = FieldPrefix.findPrefixMatchOf(q.substring(i))
            .map { m => i += m.matched.length; m.group(1) }
          if (i >= n || q(i).isWhitespace || "()".contains(q(i)))
            fail(s"field prefix without a clause at offset $i")
          if (q(i) == '[') {
            // inclusive numeric range: field:[lo TO hi] (Lucene's
            // classic range clause; long-typed — string ranges are
            // not part of this contract, stated)
            val f = field.getOrElse(
              fail(s"range clause without a field at offset $i"))
            val close = q.indexOf(']', i)
            if (close < 0) fail(s"unclosed range at offset $i")
            val body = q.substring(i + 1, close).split(" TO ")
            if (body.length != 2)
              fail(s"malformed range at offset $i (use [lo TO hi])")
            val (lo, hi) =
              try (body(0).trim.toLong, body(1).trim.toLong)
              catch { case _: NumberFormatException =>
                fail(s"non-numeric range bound at offset $i") }
            toks += Leaf(RangeNode(f, lo, hi))
            i = close + 1
          } else if (q(i) == '"') {
            val close = q.indexOf('"', i + 1)
            if (close < 0) fail(s"unclosed phrase at offset $i")
            val words = q.substring(i + 1, close)
              .split("\\s+").filter(_.nonEmpty).toSeq
            if (words.isEmpty) fail(s"empty phrase at offset $i")
            // optional slop: "a b"~2 (Lucene's phrase slop)
            var j = close + 1
            val slop = SlopSuffix
              .findPrefixMatchOf(q.substring(j)) match {
                case Some(m) => j += m.matched.length; m.group(1).toInt
                case None    => 0
              }
            // a boost on a phrase is rejected like a boost on
            // _exists_: phrases are filter context here (they gate,
            // score zero), so a boost is meaningless — and this
            // module's contract is loud errors, never silent drops
            if (j < n && q(j) == '^')
              fail(s"boost on a phrase at offset $close (phrases " +
                "are filter context and score zero)")
            toks += Leaf(PhraseNode(field, words, slop))
            i = j
          } else {
            val start = i
            while (i < n && !q(i).isWhitespace &&
              !"()^\":!".contains(q(i))) i += 1
            val word = q.substring(start, i)
            if (word.isEmpty) fail(s"empty clause at offset $start")
            val (b, j) = boostAt(i)
            i = j
            word match {
              case "AND" if field.isEmpty && b == 1.0 => toks += AndT
              case "OR" if field.isEmpty && b == 1.0  => toks += OrT
              case "NOT" if field.isEmpty && b == 1.0 => toks += NotT
              case w if field.contains("_exists_") =>
                // Lucene's _exists_:field (filter context — a boost
                // on a constant filter is meaningless and rejected)
                if (b != 1.0) fail(s"boost on _exists_ at offset $start")
                toks += Leaf(ExistsNode(w))
              case FuzzySyntax(t, e) =>
                toks += Leaf(FuzzyNode(field, t, e.toInt, b))
              case w if w.endsWith("*") && w.length > 1 &&
                  !w.init.exists(c => c == '*' || c == '?') =>
                toks += Leaf(PrefixNode(field, w.init, b))
              case w if w.contains("*") || w.contains("?") =>
                // mid-term wildcard (d?ta*): Lucene's wildcard leaf.
                // A pattern with no literal character (bare */?) is
                // match-all-ish and rejected loudly; a '~' mixed in
                // is malformed.
                if (w.contains("~"))
                  fail(s"malformed wildcard/fuzzy clause '$w' at " +
                    s"offset $start")
                if (!w.exists(c => c != '*' && c != '?'))
                  fail(s"wildcard without a literal character '$w' " +
                    s"at offset $start")
                toks += Leaf(WildcardNode(field, w, b))
              case w if w.contains("~") =>
                fail(s"malformed fuzzy clause '$w' at offset $start " +
                  "(supported: term~1, term~2)")
              case w => toks += Leaf(TermNode(field, w, b))
            }
          }
      }
    }
    toks.toSeq
  }

  /** Recursive-descent parse; throws [[IllegalArgumentException]] on
    * any malformed input (the strict contract above). */
  private[graft] def parse(q: String): Node = {
    val toks = tokenize(q)
    if (toks.isEmpty) fail("empty query")
    var pos = 0
    def peek: Option[Tok] =
      if (pos < toks.length) Some(toks(pos)) else None
    def next(): Tok = {
      if (pos >= toks.length) fail("unexpected end of input")
      val t = toks(pos); pos += 1; t
    }
    def parseOr(): Node = {
      // adjacency is OR (default_operator: OR): clauses simply
      // follow each other, with explicit OR tokens as decoration.
      // A +/- modifier at element position turns the list into
      // Lucene's boolean clause list (must / must_not / should).
      def element(): (Int, Node) = peek match {
        case Some(PlusT)  => next(); (1, parseAnd())
        case Some(MinusT) => next(); (-1, parseAnd())
        case _            => (0, parseAnd())
      }
      val kids = scala.collection.mutable.ArrayBuffer(element())
      var cont = true
      while (cont) peek match {
        case Some(OrT) => next(); kids += element()
        case Some(LP) | Some(NotT) | Some(Leaf(_)) | Some(PlusT) |
             Some(MinusT) =>
          kids += element()
        case _ => cont = false
      }
      if (kids.forall(_._1 == 0)) {
        if (kids.size == 1) kids.head._2
        else OrNode(kids.map(_._2).toSeq)
      } else
        BoolNode(
          must = kids.collect { case (1, nd) => nd }.toSeq,
          mustNot = kids.collect { case (-1, nd) => nd }.toSeq,
          should = kids.collect { case (0, nd) => nd }.toSeq)
    }
    def parseAnd(): Node = {
      val kids = scala.collection.mutable.ArrayBuffer(parseNot())
      while (peek.contains(AndT)) { next(); kids += parseNot() }
      if (kids.size == 1) kids.head else AndNode(kids.toSeq)
    }
    def parseNot(): Node = peek match {
      case Some(NotT) => next(); NotNode(parseNot())
      case _          => parsePrimary()
    }
    def parsePrimary(): Node = next() match {
      case LP =>
        val inner = parseOr()
        next() match {
          case RPT(b) => if (b == 1.0) inner else BoostNode(inner, b)
          case _      => fail("unbalanced '('")
        }
      case Leaf(nd) => nd
      case RPT(_) => fail("unbalanced ')'")
      case AndT   => fail("dangling AND")
      case OrT    => fail("dangling OR")
      case NotT   => fail("dangling NOT")
      // a modifier reaching primary position is misplaced (legal
      // only at clause-list element position): `a AND +b` errors
      case PlusT  => fail("misplaced '+' modifier")
      case MinusT => fail("misplaced '-' modifier")
    }
    val root = parseOr()
    if (pos != toks.length) fail("trailing input")
    root
  }

  // ---- resolved tree (leaves analyzed, drops applied) ----
  private sealed trait RNode
  private case class TermR(pair: Int, boost: Double) extends RNode
  private case class PhraseR(ph: Int) extends RNode
  private case class AndR(kids: Seq[RNode]) extends RNode
  private case class OrR(kids: Seq[RNode]) extends RNode
  private case class NotR(kid: RNode) extends RNode
  private case class FilterR(fid: Int) extends RNode
  private case class ConstR(cid: Int, boost: Double) extends RNode
  private case class BoolR(must: Seq[RNode], mustNot: Seq[RNode],
      should: Seq[RNode]) extends RNode
  private case class BoostR(kid: RNode, boost: Double) extends RNode
  /** Lucene's per-clause dis_max across the `fields` list: an
    * UNQUALIFIED clause under a multi-field query_string scores as
    * the MAX of its per-field scores (tie_breaker 0 — Lucene's
    * default for the fields expansion). */
  private case class DisR(kids: Seq[RNode]) extends RNode

  /** Execute `query` against the per-field postings families in
    * `fields` (field name → family root — [[SegmentedIndex
    * .multiMatchSearch]]'s mapping).
    *
    * Evaluation preserves Lucene's NESTED boolean scoring, not a
    * flat sum: each (field, analyzed-term) pair becomes one column
    * pair (matched?, contribution) in a per-doc leaf matrix (built
    * from one pruned postings read + ONE conditional aggregation
    * per field, met in O(frames) id joins), and the tree
    * folds over those columns —
    * a conjunction that fails contributes ZERO even when some of its
    * terms match (`(a AND b) OR c`: a doc with only `a` and `c`
    * scores c alone, exactly Lucene), a disjunction sums its
    * matching kids, a negation flips the match bit and contributes
    * nothing, a bool clause list requires its must/must_not shape
    * and sums matching must+should, a group boost multiplies its
    * group's score. All arithmetic is fixed-order driver-composed
    * column expressions — deterministic doubles on the oracle
    * surface. Output: (doc_id, score, n_terms_hit) — n_terms_hit
    * counts distinct positive (field, term) pairs matched — top-k by
    * (score desc, doc_id). */
  def search(spark: SparkSession, fields: Seq[(String, String)],
             defaultField: String, query: String, k: Int)
      : DataFrame =
    searchFields(spark, fields, Seq(defaultField -> 1.0), query, k)

  /** [[search]] with ES's `fields` LIST (`fields: ["text",
    * "meta^2"]`): every UNQUALIFIED scoring clause expands to a
    * dis_max across the listed fields, each analyzed under its own
    * chain and weighted by its field boost (tie_breaker 0 —
    * Lucene's default for the expansion); explicitly-prefixed
    * clauses are untouched. Phrases expand to an any-field OR
    * (filter context either way); range/`_exists_` leaves and the
    * pure-negation base read the FIRST listed field's family (its
    * stored columns are the shared doc-value store — the families
    * share one doc space by the `require` below). */
  def searchFields(spark: SparkSession,
                   fields: Seq[(String, String)],
                   defaultFields: Seq[(String, Double)],
                   query: String, k: Int): DataFrame = {
    import spark.implicits._
    require(fields.nonEmpty, "query_string needs fields")
    require(fields.map(_._1).distinct.size == fields.size,
      "duplicate fields")
    require(defaultFields.nonEmpty, "query_string needs a fields list")
    require(defaultFields.map(_._1).distinct.size ==
      defaultFields.size, "duplicate default fields")
    defaultFields.foreach { case (f, b) =>
      require(b > 0, s"field boost must be positive: $f^$b") }
    val rootOf = fields.toMap
    defaultFields.foreach { case (f, _) =>
      require(rootOf.contains(f),
        s"default field '$f' is not a mapped field") }
    val defaultField = defaultFields.head._1
    // the mapped families must share ONE doc space (the per-field
    // postings-family model: independent inverted indexes over a
    // SHARED doc-id set — combinedFieldsSearch's precondition,
    // enforced here too because the negation base reads only the
    // default family): corpus doc counts must agree
    val famDocs = fields.map { case (fn, r) =>
      val (_, segs, _) =
        SegmentedIndex.readManifest(new java.io.File(r))
      fn -> segs.filter(_.kind == "seg").map(_.nDocs).sum
    }
    require(famDocs.map(_._2).distinct.size == 1,
      "mapped families must share one doc space (same corpus doc " +
        s"count): ${famDocs.map { case (f, c) => s"$f=$c" }
          .mkString(", ")}")
    val ast = parse(query)

    def fieldName(f: Option[String]): String = f match {
      case Some(name) =>
        require(rootOf.contains(name),
          s"unknown field '$name' (mapped: " +
            fields.map(_._1).mkString(", ") + ")")
        name
      case None => defaultField
    }
    def analyzed(field: String, raw: String): Seq[String] =
      SegmentedIndex.qTerms(new java.io.File(rootOf(field)), Seq(raw))

    // resolve: analyze leaves under their field's chain, drop
    // clauses that analyze away (Lucene's rule), expand multi-token
    // analysis to an OR of single-token leaves. Pair/phrase tables
    // assign one matrix column set per DISTINCT (field, term) and
    // (field, words, slop).
    val pairIds = scala.collection.mutable
      .LinkedHashMap.empty[(String, String), Int]
    val phraseIds = scala.collection.mutable
      .LinkedHashMap.empty[(String, Seq[String], Int), Int]
    def pairId(f: String, t: String): Int =
      pairIds.getOrElseUpdate((f, t), pairIds.size)
    def phraseId(f: String, w: Seq[String], slop: Int): Int =
      phraseIds.getOrElseUpdate((f, w, slop), phraseIds.size)
    // filter leaves (range / exists) address STORED columns of the
    // DEFAULT field's family (the shared doc-id space's doc-values
    // store) — one column-pruned stored read per distinct leaf
    val filterIds = scala.collection.mutable
      .LinkedHashMap.empty[(String, String, Long, Long), Int]
    def filterId(kind: String, f: String, lo: Long, hi: Long): Int =
      filterIds.getOrElseUpdate((kind, f, lo, hi), filterIds.size)
    // constant-score multi-term leaves (prefix / wildcard / fuzzy):
    // Lucene's multi-term rewrite — matched docs score boost·1.0;
    // expansions walk the family's vocabulary-sized dictionary under
    // a cap
    val constIds = scala.collection.mutable
      .LinkedHashMap.empty[(String, String, String, Int), Int]
    def constId(kind: String, fn: String, text: String,
                edits: Int): Int =
      constIds.getOrElseUpdate((kind, fn, text, edits), constIds.size)
    // an UNQUALIFIED clause expands across the fields list (dis_max
    // over per-field resolutions — Lucene's fields expansion); one
    // field degenerates to the plain single-field resolution
    def overDefaults(mk: (String, Double) => Option[RNode])
        : Option[RNode] =
      defaultFields.flatMap { case (fn, fb) => mk(fn, fb) } match {
        case Seq()    => None
        case Seq(one) => Some(one)
        case ks       => Some(DisR(ks))
      }
    def termIn(fn: String, t: String, b: Double): Option[RNode] =
      analyzed(fn, t) match {
        case Seq()    => None
        case Seq(one) => Some(TermR(pairId(fn, one), b))
        case many     => Some(OrR(many.map(tok =>
          TermR(pairId(fn, tok), b))))
      }
    def resolve(n: Node): Option[RNode] = n match {
      case TermNode(Some(f), t, b) => termIn(fieldName(Some(f)), t, b)
      case TermNode(None, t, b) =>
        overDefaults((fn, fb) => termIn(fn, t, b * fb))
      case PhraseNode(f, words, slop) =>
        val fns = f match {
          case Some(_) => Seq(fieldName(f))
          case None    => defaultFields.map(_._1)
        }
        val ks = fns.filter(fn =>
            analyzed(fn, words.mkString(" ")).nonEmpty)
          .map(fn => PhraseR(phraseId(fn, words, slop)))
        ks match {
          case Seq()    => None
          case Seq(one) => Some(one)
          // filter context: any-field match gates, scores stay zero
          case many     => Some(DisR(many))
        }
      case AndNode(ks) =>
        val rs = ks.flatMap(resolve)
        if (rs.isEmpty) None
        else if (rs.size == 1) Some(rs.head)
        else Some(AndR(rs))
      case OrNode(ks) =>
        val rs = ks.flatMap(resolve)
        if (rs.isEmpty) None
        else if (rs.size == 1) Some(rs.head)
        else Some(OrR(rs))
      case BoolNode(m, mn, sh) =>
        // dropped clauses drop their requirement with them (Lucene
        // discards the clause, not the query)
        val rm = m.flatMap(resolve)
        val rn = mn.flatMap(resolve)
        val rs = sh.flatMap(resolve)
        if (rm.isEmpty && rn.isEmpty) {
          if (rs.isEmpty) None
          else if (rs.size == 1) Some(rs.head)
          else Some(OrR(rs))
        } else Some(BoolR(rm, rn, rs))
      case BoostNode(kd, b) =>
        resolve(kd).map(r => if (b == 1.0) r else BoostR(r, b))
      case PrefixNode(Some(f), stem, b) =>
        Some(ConstR(constId("prefix", fieldName(Some(f)), stem, 0), b))
      case PrefixNode(None, stem, b) =>
        overDefaults((fn, fb) =>
          Some(ConstR(constId("prefix", fn, stem, 0), b * fb)))
      case WildcardNode(Some(f), pat, b) =>
        Some(ConstR(constId("wildcard", fieldName(Some(f)), pat, 0), b))
      case WildcardNode(None, pat, b) =>
        overDefaults((fn, fb) =>
          Some(ConstR(constId("wildcard", fn, pat, 0), b * fb)))
      case FuzzyNode(Some(f), t, e, b) =>
        Some(ConstR(constId("fuzzy", fieldName(Some(f)), t, e), b))
      case FuzzyNode(None, t, e, b) =>
        overDefaults((fn, fb) =>
          Some(ConstR(constId("fuzzy", fn, t, e), b * fb)))
      case RangeNode(f, lo, hi) =>
        Some(FilterR(filterId("range", f, lo, hi)))
      case ExistsNode(f) =>
        Some(FilterR(filterId("exists", f, 0L, 0L)))
      case NotNode(kd) => resolve(kd).map(NotR)
    }
    val rootR = resolve(ast) match {
      case Some(r) => r
      case None =>
        // the whole query analyzed away: zero_terms_query none
        return Seq.empty[(Long, Double, Long)]
          .toDF("doc_id", "score", "n_terms_hit")
    }

    // one pruned postings read per field over ALL its pairs' terms
    val termsByField = pairIds.keys.toSeq.groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    case class FieldCtx(live: DataFrame, dfreq: DataFrame,
                        nDocs: Long)
    val ctx: Map[String, FieldCtx] = termsByField.map {
      case (fn, terms) =>
        val root = new java.io.File(rootOf(fn))
        val (nb, segs, _) = SegmentedIndex.readManifest(root)
        val p = SegmentedIndex
          .prunedPostings(spark, root, segs, terms, nb)
        val dfreq = p.groupBy("term")
          .agg(count(lit(1)).as("doc_freq"))
        val live = SegmentedIndex.liveDocs(spark, root, segs)(p)
        fn -> FieldCtx(live, dfreq,
          segs.filter(_.kind == "seg").map(_.nDocs).sum)
    }

    // per-FIELD pair frames (r18 optimization): ONE conditional
    // aggregation per field carries every pair's (m_p, sc_p) columns
    // — sum(when(term = tok, tf·(N_f/df_f))) is exactly the old
    // per-pair filter+sum (when() nulls the other terms' rows and
    // sum ignores nulls), and max(when(term = tok, true)) is null
    // where the old left join produced null — so the matrix values
    // are bit-identical while O(pairs) join subtrees collapse to
    // O(fields)
    val pairsByField: Seq[(String, Seq[(String, Int)])] =
      pairIds.toSeq.groupBy(_._1._1).toSeq
        .map { case (fn, xs) =>
          fn -> xs.map { case ((_, tok), p) => (tok, p) }
            .sortBy(_._2) }
        .sortBy(_._2.head._2)
    val pairFrames = pairsByField.map { case (fn, toks) =>
      val c = ctx(fn)
      val aggs = toks.flatMap { case (tok, p) => Seq(
        sum(when(col("term") === lit(tok),
          col("tf").cast("double") *
            (lit(c.nDocs).cast("double") /
              col("doc_freq").cast("double")))).as(s"sc_$p"),
        max(when(col("term") === lit(tok), lit(true))).as(s"m_$p"))
      }
      c.live.join(c.dfreq, "term")
        .groupBy("doc_id")
        .agg(aggs.head, aggs.tail: _*)
    }
    val phraseFrames = phraseIds.toSeq.map {
      case ((fn, words, slop), q) =>
        val docs =
          if (slop == 0)
            SegmentedIndex.phraseSearch(spark, rootOf(fn), words)
          else {
            // sloppy phrases route through the two-term move
            // arithmetic — that operator's stated scope
            require(words.size == 2,
              "phrase slop supports two-term phrases " +
                s"(sloppyPhraseSearch's contract): " +
                words.mkString("\"", " ", s""""~$slop"""))
            SegmentedIndex.sloppyPhraseDocs(spark, rootOf(fn),
              words.head, words(1), slop)
          }
        docs.select("doc_id").distinct()
          .withColumn(s"mp_$q", lit(true))
    }
    // filter-leaf frames off the default family's live stored rows
    // (built once, shared across leaves — the doc-values read)
    lazy val defaultLiveStored: DataFrame = {
      val root = new java.io.File(rootOf(defaultField))
      val (_, segs, _) = SegmentedIndex.readManifest(root)
      SegmentedIndex.liveStored(spark, root, segs)
    }
    val filterFrames = filterIds.toSeq.map {
      case ((kind, f, lo, hi), fid) =>
        val cond = kind match {
          case "range" => col(f).between(lit(lo), lit(hi))
          case _       => col(f).isNotNull
        }
        defaultLiveStored.filter(cond).select("doc_id").distinct()
          .withColumn(s"mf_$fid", lit(true))
    }
    // constant-score leaf frames: expansion terms collected from the
    // dictionary walk (BOUNDED: at most MaxLeafExpansions strings
    // reach the driver — ES's own fuzzy/prefix expansion posture),
    // then one pruned postings read of the matched terms' lists.
    // The fuzzy walk is SymSpell-BLOCKED (Fuzzy.delAutoExpr — the
    // same deletion-variant join fuzzySearch/termSuggest use): the
    // dictionary explodes its deletion neighborhood and joins the
    // broadcast query variants, so the exact levenshtein verify runs
    // only on blocked candidates, never the whole vocabulary.
    // minLen2 = 2 (not Lucene-AUTO's 6) because query_string's ~2 is
    // EXPLICIT — it applies at any term length, so depth-2 variants
    // must exist wherever a length-2+ term can donate them (a
    // length-1 string has no depth-2 deletion; recall-1 stands).
    val constFrames = constIds.toSeq.map {
      case ((kind, fn, text, edits), cid) =>
        val root = new java.io.File(rootOf(fn))
        val (nb, segs, _) = SegmentedIndex.readManifest(root)
        val chain = Analyzer.byName(SegmentedIndex.analyzerOf(rootOf(fn)))
        val px = Analyzer.normalize(chain, text)
        val dict = SegmentedIndex.dictFrame(spark, root, segs)
        val matched = kind match {
          case "prefix" => dict.filter(col("term").startsWith(px))
          case "wildcard" => dict.filter(
            col("term").rlike(SegmentedIndex.wildcardRegex(px)))
          case _ =>
            def del1(s: String): Seq[String] =
              s +: s.indices.map(i => s.take(i) + s.drop(i + 1))
            val variants =
              (if (edits >= 2) (del1(px) ++ del1(px).flatMap(del1))
               else del1(px)).distinct
            dict
              .withColumn("v", explode(expr(
                Fuzzy.delAutoExpr("term", edits, minLen2 = 2))))
              .join(broadcast(variants.toDF("v")), "v")
              .filter(levenshtein(col("term"), lit(px)) <= lit(edits))
        }
        val expansions = matched.select("term").distinct()
          .orderBy("term").limit(MaxLeafExpansions)
          .collect().map(_.getString(0)).toSeq
        val docs =
          if (expansions.isEmpty)
            spark.range(0).select(col("id").as("doc_id"))
          else {
            val ps = SegmentedIndex
              .prunedPostings(spark, root, segs, expansions, nb)
            SegmentedIndex.liveDocs(spark, root, segs)(ps)
              .select("doc_id").distinct()
          }
        docs.withColumn(s"mc_$cid", lit(true))
    }

    // the candidate base: a doc can match the tree without matching
    // any leaf only through negation, so the union of leaf doc sets
    // suffices UNLESS the tree genuinely needs the corpus — and a
    // conjunction with one corpus-free positive kid is bounded by
    // that kid (the `a AND NOT b` anti-join peephole, generalized:
    // every match of the conjunction matches the positive kid, which
    // is in the leaf union). Only trees that are negative at top
    // level (after the fold below) read the live corpus of the
    // default field's family (ONE id-column stored read — Lucene's
    // pure-negative rewrite, the cost ES itself pays, stated).
    def needsCorpus(r: RNode): Boolean = r match {
      case TermR(_, _) | PhraseR(_) | FilterR(_) | ConstR(_, _) =>
        false
      case NotR(_)       => true
      case BoostR(kd, _) => needsCorpus(kd)
      case AndR(ks)      => ks.forall(needsCorpus)
      case OrR(ks)       => ks.exists(needsCorpus)
      case DisR(ks)      => ks.exists(needsCorpus)
      case BoolR(m, _, sh) =>
        if (m.nonEmpty) m.forall(needsCorpus)
        else if (sh.nonEmpty) sh.exists(needsCorpus)
        else true // pure-negative clause list: match-all-minus
    }
    // the candidate base stays union-distinct + LEFT-join fold (a
    // full-outer chain was tried for the corpus-free case and
    // REVERTED after measurement: full outer cannot broadcast, so
    // every matrix meet became a shuffle join and q309's tiny
    // const-leaf frames regressed +70% — the union's subtree
    // recomputation is cheaper than losing broadcast here)
    val leafFrames =
      pairFrames ++ phraseFrames ++ filterFrames ++ constFrames
    val base: DataFrame =
      if (needsCorpus(rootR)) {
        val root = new java.io.File(rootOf(defaultField))
        val (_, segs, _) = SegmentedIndex.readManifest(root)
        val stored = SegmentedIndex.storedFrame(spark, root, segs)
          .select("doc_id", "seg")
        SegmentedIndex.liveDocs(spark, root, segs)(stored)
          .select("doc_id").distinct()
      } else if (leafFrames.isEmpty)
        return Seq.empty[(Long, Double, Long)]
          .toDF("doc_id", "score", "n_terms_hit")
      else leafFrames.map(_.select("doc_id"))
        .reduce(_ unionByName _).distinct()

    val matrix = leafFrames.foldLeft(base)((acc, lf) =>
      acc.join(lf, Seq("doc_id"), "left"))

    // the tree folds over the matrix columns — matched and score per
    // node, scores gated by their own conjunction's match
    def comp(r: RNode): (org.apache.spark.sql.Column,
                         org.apache.spark.sql.Column) = r match {
      case TermR(p, b) =>
        (coalesce(col(s"m_$p"), lit(false)),
          lit(b) * coalesce(col(s"sc_$p"), lit(0.0d)))
      case PhraseR(q) =>
        (coalesce(col(s"mp_$q"), lit(false)), lit(0.0d))
      case AndR(ks) =>
        val cs = ks.map(comp)
        val m = cs.map(_._1).reduce(_ && _)
        (m, when(m, cs.map(_._2).reduce(_ + _)).otherwise(lit(0.0d)))
      case OrR(ks) =>
        val cs = ks.map(comp)
        (cs.map(_._1).reduce(_ || _), cs.map(_._2).reduce(_ + _))
      case NotR(kd) =>
        val (m, _) = comp(kd)
        (!m, lit(0.0d))
      case BoolR(m, mn, sh) =>
        // Lucene's clause-list rule: every must, no must_not, and —
        // only when no must exists — at least one should; matching
        // must and should clauses sum, must_not never scores
        val mc = m.map(comp)
        val nc = mn.map(comp)
        val sc = sh.map(comp)
        val mMust = mc.map(_._1).reduceOption(_ && _)
          .getOrElse(lit(true))
        val mNot = nc.map(_._1).reduceOption(_ || _)
          .getOrElse(lit(false))
        val gate =
          if (m.nonEmpty) lit(true)
          else sc.map(_._1).reduceOption(_ || _).getOrElse(lit(true))
        val matched = mMust && !mNot && gate
        val score = (mc.map(_._2) ++ sc.map(_._2))
          .reduceOption(_ + _).getOrElse(lit(0.0d))
        (matched, when(matched, score).otherwise(lit(0.0d)))
      case BoostR(kd, b) =>
        val (m, s) = comp(kd)
        (m, s * lit(b))
      case DisR(ks) =>
        // the per-clause fields dis_max: matched = any field, score
        // = the best field's (tie_breaker 0; kid scores self-gate
        // to 0 when unmatched, and are non-negative, so greatest is
        // exactly Lucene's max-of-matching)
        val cs = ks.map(comp)
        val scores = cs.map(_._2)
        (cs.map(_._1).reduce(_ || _),
          if (scores.size == 1) scores.head else greatest(scores: _*))
      case FilterR(fid) =>
        // filter context: gates candidacy, scores zero (the pinned
        // phrase posture applied to range/exists)
        (coalesce(col(s"mf_$fid"), lit(false)), lit(0.0d))
      case ConstR(cid, b) =>
        // Lucene's constant-score multi-term rewrite: boost·1.0 —
        // expansions deliberately NOT idf-weighted (ES's default)
        val m = coalesce(col(s"mc_$cid"), lit(false))
        (m, when(m, lit(b)).otherwise(lit(0.0d)))
    }
    val (rootM, rootS) = comp(rootR)

    // distinct positive (field, term) pairs — reachable outside any
    // negation — matched per doc
    def posPairs(r: RNode, neg: Boolean): Seq[Int] = r match {
      case TermR(p, _) if !neg => Seq(p)
      case AndR(ks) => ks.flatMap(posPairs(_, neg))
      case OrR(ks)  => ks.flatMap(posPairs(_, neg))
      case NotR(kd) => posPairs(kd, neg = true)
      case BoolR(m, mn, sh) =>
        (m ++ sh).flatMap(posPairs(_, neg)) ++
          mn.flatMap(posPairs(_, neg = true))
      case BoostR(kd, _) => posPairs(kd, neg)
      case DisR(ks) => ks.flatMap(posPairs(_, neg))
      case _        => Seq.empty
    }
    val pos = posPairs(rootR, neg = false).distinct
    val nHit = pos.map(p =>
        when(coalesce(col(s"m_$p"), lit(false)), lit(1L))
          .otherwise(lit(0L)))
      .reduceOption(_ + _).getOrElse(lit(0L))

    matrix.filter(rootM)
      .withColumn("score", rootS)
      .withColumn("n_terms_hit", nHit)
      .select("doc_id", "score", "n_terms_hit")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }
}
