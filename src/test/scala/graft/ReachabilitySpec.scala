package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `src/main` free of code that only its own specs reach: a plain
  * source scan, no SparkSession.
  *
  * Every `.scala` file under `src/main` and `perfbench/harness/src` is
  * read with its comments stripped, and its member-level `def`, `val`,
  * `object`, `class` and `trait` definitions are collected (a member
  * sits directly in a template body; local definitions inside a method
  * are part of their member). A definition's body runs from its keyword
  * to the next member of the same template, to the first later line
  * indented no deeper than the keyword's line, or to the template's
  * closing brace, whichever comes first.
  *
  * Reachability is a fixed point. The roots are `main` methods, the
  * allowlist below (with everything nested in an allowlisted
  * definition), and text outside every definition (package clauses and
  * file-level imports). `override`, `implicit`, `apply` and `unapply`
  * members are reached with their enclosing definition. A definition is
  * reached when its name appears, as a whole identifier, in the body of
  * a reached definition outside the bodies of its members; reaching a
  * member reaches its enclosing definitions. Whatever is not reached
  * after the last round is reported, outermost definitions only. A
  * cluster of definitions that only name one another is therefore
  * reported whole, cycles included.
  *
  * Matching is by name, so the scan undercounts: a parameter, a local
  * value, a named argument, an import or a string literal that spells a
  * member's name counts as a reference to every member of that name,
  * and operator-named members are not collected. A clean scan means no
  * definition is provably unreached by name, not that every definition
  * runs.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private lazy val scan = Scan(sources(Seq("src/main", "perfbench/harness/src")))

  test("every src/main definition is reached from product code or allowlisted") {
    assert(scan.defs.size > 500, "the scan found too few definitions to be reading the sources")
    val unreached = scan.unreached(Allowlist.keySet).map(scan.describe)
    if (unreached.nonEmpty) fail(
      s"${unreached.size} definitions are reached only from outside src/main and the " +
        "benchmark harness; delete them or allowlist them with a reason:\n" +
        unreached.mkString("\n"))
  }

  test("every allowlist entry has a reason and is still needed") {
    val noReason = Allowlist.collect { case (k, r) if r.trim.isEmpty => k }
    val undefined = Allowlist.keySet.filterNot(k => scan.defs.exists(_.key == k))
    val reachedAnyway = (Allowlist.keySet -- undefined).toSeq.sorted.filter { k =>
      !scan.unreached(Allowlist.keySet - k).exists(d => scan.defs(d).key == k)
    }
    val stale = noReason.map(k => s"$k: no reason") ++
      undefined.toSeq.sorted.map(k => s"$k: no longer defined") ++
      reachedAnyway.flatMap(k => scan.defs.filter(_.key == k).map(d =>
        s"${d.file}:${d.line} $k: reached without the allowlist"))
    if (stale.nonEmpty) fail(stale.mkString("\n"))
  }

  test("the scan sees through comments and strings, and finds dead cycles") {
    val src = Seq(Source("A.scala",
      """object A {
        |  def main(args: Array[String]): Unit = used()
        |  // def ghost = 1
        |  private def used(): Unit = { val s = "def phantom = used" ; println(s"$interp") }
        |  def interp = 2
        |  def deadA: Int = deadB /* used */
        |  def deadB: Int =
        |    deadA
        |  def kept = 1
        |}
        |""".stripMargin))
    val s = Scan(src)
    assert(s.defs.map(_.name).sorted == Seq("A", "deadA", "deadB", "interp", "kept", "main", "used"))
    assert(s.unreached(Set.empty).map(s.defs(_).name) == Seq("deadA", "deadB", "kept"))
    assert(s.unreached(Set("A.kept")).map(s.defs(_).name) == Seq("deadA", "deadB"))
  }
}

object ReachabilitySpec {

  /** Definitions kept although nothing in `src/main` or the harness
    * reaches them, each with the reason. Keys are the definition's
    * enclosing names and its own, joined by dots. */
  val Allowlist: Map[String, String] = Map(
    "Extract.jdbcReader" -> "SURVEY S1/S2: parallel JDBC extract; no CLI source is JDBC yet",
    "Extract.planPartitions" -> "SURVEY S3-S5: JDBC split column, partition count and bounds",
    "Bootstrap.fetchPrimaryKeys" -> "SURVEY B4: primary keys from JDBC metadata",
    "Bootstrap.constraintsFromJdbcMetadata" -> "SURVEY C4: upstream constraints from JDBC metadata",
    "Validate.upstreamColumns" -> "SURVEY C3: upstream column validation",
    "Validate.upstreamConstraints" -> "SURVEY C4: upstream constraint validation",
    "Validate.reloadConsistency" -> "SURVEY C7: reload-consistency check",
    "Dag.setRequired" -> "SURVEY D2: required-relation propagation",
    "Retry" -> "SURVEY D8: retry with backoff, not yet wired around COPY and INSERT",
    "Warehouse.restoreFromBackup" -> "SURVEY L4: restore standard from backup",
    "Explain.broadcastJoins" -> "test hook for the broadcast-join plan gates in ExplainSpec and QueryHelpersSpec",
    "VariantHashes.fpCacheBytesForTest" -> "test hook for the fingerprint cache byte budget (PropertiesSpec)",
    "VariantHashes.fpCacheEntriesForTest" -> "test hook for the fingerprint cache eviction (PropertiesSpec)",
    "CliTrace" -> "benchmark harness listener, named only in spark.extraListeners by perfbench/nightly.py",
  )

  final case class Source(file: String, text: String)

  // `$` starts an interpolated name, so it is not part of an identifier here
  private def identChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  def sources(roots: Seq[String]): Seq[Source] = roots.flatMap { root =>
    val walk = Files.walk(Paths.get(root))
    val files: List[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
      finally walk.close()
    files.map(p => Source(p.toString, new String(Files.readAllBytes(p), UTF_8)))
  }

  final case class Defn(file: String, line: Int, name: String, key: String,
                        parent: Int, root: Boolean, start: Int, end: Int)

  private val Ident = raw"[A-Za-z_][A-Za-z0-9_]*".r
  private val RootModifier = raw"\b(override|implicit)\b".r
  private val Modifiers =
    raw"(?:(?:override|private|protected|final|implicit|lazy|sealed|abstract|case)(?:\[\w+\])?\s+|@\w+(?:\([^)]*\))?\s+)*$$".r

  /** Comments blanked to spaces (newlines kept), and a second copy with
    * string and character literal contents blanked too, both the same
    * length as the source so offsets and lines agree. */
  def strip(text: String): (String, String) = {
    val code = text.toCharArray
    val masked = text.toCharArray
    def blank(from: Int, until: Int, both: Boolean): Unit = {
      var k = from
      while (k < until) {
        if (text(k) != '\n') { masked(k) = ' '; if (both) code(k) = ' ' }
        k += 1
      }
    }
    val n = text.length
    var i = 0
    while (i < n) {
      if (text.startsWith("//", i)) {
        val e = text.indexOf('\n', i)
        val end = if (e < 0) n else e
        blank(i, end, both = true); i = end
      } else if (text.startsWith("/*", i)) {
        var depth = 0
        var j = i
        while (j < n && !(depth == 1 && text.startsWith("*/", j))) {
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        val end = math.min(n, j + 2)
        blank(i, end, both = true); i = end
      } else if (text.startsWith("\"\"\"", i)) {
        val e = text.indexOf("\"\"\"", i + 3)
        var end = if (e < 0) n else e + 3
        while (end < n && text(end) == '"') end += 1
        blank(i + 3, end - 3, both = false); i = end
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < n && text(j) != '"' && text(j) != '\n') j += (if (text(j) == '\\') 2 else 1)
        blank(i + 1, j, both = false); i = j + 1
      } else if (text(i) == '\'' && i + 2 < n &&
          (text(i + 2) == '\'' || (text(i + 1) == '\\' && text.indexOf('\'', i + 3) > 0))) {
        val end = text.indexOf('\'', if (text(i + 1) == '\\') i + 3 else i + 2) + 1
        blank(i + 1, end - 1, both = false); i = end
      } else i += 1
    }
    (new String(code), new String(masked))
  }

  final case class Scan(srcs: Seq[Source]) {
    private val parsed = srcs.map(s => s -> strip(s.text))
    private val collected = mutable.ArrayBuffer.empty[Defn]
    // per defn: the names its own text spells (outside its members)
    private val spells = mutable.ArrayBuffer.empty[Set[String]]
    private val topLevel = mutable.Set.empty[String]

    parsed.foreach { case (src, (code, masked)) => collect(src.file, code, masked) }

    val defs: IndexedSeq[Defn] = collected.toIndexedSeq
    private val byName: Map[String, Seq[Int]] = defs.indices.groupBy(defs(_).name)
    private val children: Map[Int, Seq[Int]] =
      defs.indices.filter(defs(_).parent >= 0).groupBy(defs(_).parent)

    def describe(i: Int): String = s"${defs(i).file}:${defs(i).line} ${defs(i).key}"

    /** Outermost definitions not reached from the roots, in file order. */
    def unreached(allow: Set[String]): Seq[Int] = {
      val live = mutable.Set.empty[Int]
      val queue = mutable.Queue.empty[Int]
      def reach(i: Int): Unit = if (live.add(i)) {
        queue += i
        if (defs(i).parent >= 0) reach(defs(i).parent)
        children.getOrElse(i, Nil).filter(defs(_).root).foreach(reach)
      }
      def reachAll(i: Int): Unit = { reach(i); children.getOrElse(i, Nil).foreach(reachAll) }
      defs.indices.foreach { i =>
        if (defs(i).name == "main") reach(i)
        if (allow(defs(i).key)) reachAll(i)
        if (defs(i).root && defs(i).parent < 0) reach(i)
      }
      topLevel.foreach(n => byName.getOrElse(n, Nil).foreach(reach))
      while (queue.nonEmpty) {
        val i = queue.dequeue()
        spells(i).foreach(n => byName.getOrElse(n, Nil).foreach(reach))
      }
      defs.indices.filter(i => !live(i) && (defs(i).parent < 0 || live(defs(i).parent)))
    }

    private def collect(file: String, code: String, masked: String): Unit = {
      val n = masked.length
      val lineStarts = (0 +: masked.indices.filter(masked(_) == '\n').map(_ + 1)).toArray
      def lineOf(pos: Int): Int = {
        val k = java.util.Arrays.binarySearch(lineStarts, pos)
        if (k >= 0) k + 1 else -k - 1
      }
      def indentAt(lineStart: Int): Int = {
        var k = lineStart
        while (k < n && masked(k) == ' ') k += 1
        k - lineStart
      }
      def skipSpace(k0: Int): Int = {
        var k = k0
        while (k < n && masked(k).isWhitespace) k += 1
        k
      }
      // name-token offsets of every definition, member or local: a
      // definition site is not a reference
      val sites = mutable.Set.empty[Int]

      final case class Frame(template: Boolean, owner: Int, var parens: Int)
      val stack = mutable.Stack(Frame(template = true, owner = -1, parens = 0))
      // frame-closing offsets per owner, and members per frame
      val closeOf = mutable.Map.empty[Int, Int]
      val siblings = mutable.Map.empty[Int, mutable.ArrayBuffer[Int]]
      val mine = mutable.ArrayBuffer.empty[(Int, Int)] // (defn, modifier start)
      var pendingTemplate = -1 // a class/object/trait whose body brace is due
      val base = collected.size

      var i = 0
      while (i < n) {
        val c = masked(i)
        if (c == '{') {
          val owner = if (pendingTemplate >= 0 && stack.top.parens == 0) pendingTemplate else -2
          stack.push(Frame(template = owner >= 0, owner = owner, parens = 0))
          pendingTemplate = -1
          i += 1
        } else if (c == '}') {
          if (stack.size > 1) {
            val f = stack.pop()
            if (f.template) closeOf(f.owner) = i + 1
          }
          i += 1
        } else if (c == '(' || c == '[') { stack.top.parens += 1; i += 1 }
        else if (c == ')' || c == ']') { stack.top.parens = math.max(0, stack.top.parens - 1); i += 1 }
        else if (c == '\n') {
          if (pendingTemplate >= 0 && stack.top.parens == 0) {
            val k = skipSpace(i)
            if (!(masked.startsWith("extends", k) || masked.startsWith("with", k) ||
              masked.startsWith("{", k))) pendingTemplate = -1
          }
          i += 1
        } else if ((c.isLetter || c == '_') && (i == 0 || !identChar(masked(i - 1)))) {
          var j = i
          while (j < n && identChar(masked(j))) j += 1
          val word = masked.substring(i, j)
          word match {
            case "def" | "val" | "var" | "object" | "class" | "trait" =>
              val k = skipSpace(j)
              Ident.findPrefixOf(masked.substring(k, math.min(n, k + 200))) match {
                case Some(name) if name != "this" =>
                  sites += k
                  val top = stack.top
                  val member = top.template && top.parens == 0 && word != "var"
                  if (member) {
                    val before = masked.substring(math.max(0, i - 200), i)
                    val modText = Modifiers.findFirstMatchIn(before).get.matched
                    val parent = top.owner
                    val root = name == "apply" || name == "unapply" || name == "unapplySeq" ||
                      RootModifier.findFirstIn(modText).isDefined
                    val key = (if (parent >= 0) collected(parent).key + "." else "") + name
                    val idx = collected.size
                    collected += Defn(file, lineOf(i), name, key, parent, root, i, -1)
                    spells += Set.empty
                    mine += ((idx, i - modText.length))
                    siblings.getOrElseUpdate(parent, mutable.ArrayBuffer.empty) += idx
                    if (word == "object" || word == "class" || word == "trait") pendingTemplate = idx
                  } else if (word == "object" || word == "class" || word == "trait") {
                    pendingTemplate = -1
                  }
                  i = k + name.length
                case _ => i = j
              }
            case "new" =>
              // an anonymous class body is a block; a `new` inside a
              // class header's parameters is not
              if (stack.top.parens == 0) pendingTemplate = -1
              i = j
            case _ => i = j
          }
        } else i += 1
      }

      // bodies: to the next sibling, the dedent, or the template's close
      val modStart = mine.toMap
      siblings.foreach { case (parent, members) =>
        val frameEnd = if (parent >= 0) closeOf.getOrElse(parent, n) else n
        members.zipWithIndex.foreach { case (d, k) =>
          val next = if (k + 1 < members.size) modStart(members(k + 1)) else frameEnd
          val start = collected(d).start
          val line0 = lineStarts(lineOf(start) - 1)
          val indent = indentAt(line0)
          var dedent = n
          var l = lineOf(start) // index of the next line in lineStarts
          while (l < lineStarts.length && dedent == n) {
            val ls = lineStarts(l)
            val ind = indentAt(ls)
            val first = if (ls + ind < n) masked(ls + ind) else '\n'
            if (first != '\n' && (ind < indent || (ind == indent && !"})].".contains(first) &&
              !masked.startsWith("extends", ls + ind) && !masked.startsWith("with", ls + ind))))
              dedent = ls
            l += 1
          }
          val end = Seq(next, dedent, frameEnd, closeOf.getOrElse(d, n)).min
          collected(d) = collected(d).copy(end = math.max(end, start + 1))
        }
      }

      // each identifier occurrence belongs to the innermost body holding it
      val owner = Array.fill(n)(-1)
      val mineIdx = (base until collected.size).sortBy(d => depth(d))
      mineIdx.foreach { d =>
        java.util.Arrays.fill(owner, collected(d).start, math.min(n, collected(d).end), d)
      }
      val spelled = mutable.Map.empty[Int, mutable.Set[String]]
      Ident.findAllMatchIn(code).foreach { m =>
        val p = m.start
        if ((p == 0 || !identChar(code(p - 1))) && !sites(p)) {
          val o = owner(p)
          if (o < 0) topLevel += m.matched
          else spelled.getOrElseUpdate(o, mutable.Set.empty) += m.matched
        }
      }
      spelled.foreach { case (d, names) => spells(d) = names.toSet }
    }

    private def depth(d: Int): Int =
      if (collected(d).parent < 0) 0 else 1 + depth(collected(d).parent)
  }
}
