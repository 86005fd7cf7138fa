package graft

import org.scalatest.funsuite.AnyFunSuite

/** One sorted-output gate: in the engine sources only `Materialize.scala`
  * may sort a relation and pin it with `localCheckpoint`; every other
  * sort-and-pin calls [[graft.operators.Materialize.sorted]]. A top-k
  * (`orderBy(...).limit(k)`) is not a range sort and is exempt. */
class SortedGateLintSpec extends AnyFunSuite {

  /** Index just past the bracket group opening at `open`, skipping
    * string literals. */
  private def closeOf(s: String, open: Int): Int = {
    var i = open + 1
    var depth = 1
    while (depth > 0 && i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case '"' =>
          i += 1
          while (i < s.length && s(i) != '"') i += (if (s(i) == '\\') 2 else 1)
        case _ =>
      }
      i += 1
    }
    i
  }

  /** Index of the next code character at or after `from`, past
    * whitespace and line comments. */
  private def skipSpace(s: String, from: Int): Int = {
    var i = from
    var moved = true
    while (moved) {
      moved = false
      while (i < s.length && s(i).isWhitespace) { i += 1; moved = true }
      if (s.startsWith("//", i)) {
        while (i < s.length && s(i) != '\n') i += 1
        moved = true
      }
    }
    i
  }

  /** The method calls chained after each `orderBy(...)` in `src`, with
    * the 1-based line of the `orderBy`. */
  private def chainsAfterOrderBy(src: String): Seq[(Int, Seq[String])] =
    """\borderBy\(""".r.findAllMatchIn(src).map { m =>
      val calls = Seq.newBuilder[String]
      var i = skipSpace(src, closeOf(src, m.end - 1))
      while (i < src.length && src(i) == '.') {
        val end = src.indexWhere(c => !c.isLetterOrDigit, i + 1)
        calls += src.substring(i + 1, if (end < 0) src.length else end)
        i = if (end < 0) src.length else end
        if (i < src.length && src(i) == '(') i = closeOf(src, i)
        i = skipSpace(src, i)
      }
      (src.substring(0, m.start).count(_ == '\n') + 1, calls.result())
    }.toSeq

  /** Lines of `src` with an `orderBy(...)` chain that ends in
    * `localCheckpoint` and is not a top-k. */
  def handSortedPins(src: String): Seq[Int] =
    chainsAfterOrderBy(src).collect {
      case (line, calls) if calls.lastOption.contains("localCheckpoint") &&
          !calls.contains("limit") => line
    }

  test("the scan flags a sort-and-pin and exempts a top-k") {
    assert(handSortedPins(
      "val a = df.orderBy(col(\"k\"))\n  .localCheckpoint()") == Seq(1))
    assert(handSortedPins(
      "x\n.orderBy(col(\")\").desc) // pin\n  .select(col(\"k\"))" +
        "\n  .localCheckpoint(true)") == Seq(2))
    assert(handSortedPins(
      "df.orderBy(col(\"k\")).limit(3).localCheckpoint()") == Nil)
    assert(handSortedPins(
      "Window.orderBy(col(\"k\")).rowsBetween(-1, 0)") == Nil)
    assert(handSortedPins("df.orderBy(col(\"k\")).localCheckpoint()\n" +
      "df.orderBy(col(\"k\"))\n.collect()") == Seq(1))
  }

  test("no engine source but Materialize.scala sorts and pins by hand") {
    val root = new java.io.File("src/main/scala")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val all = files(root)
    assert(all.size > 50, s"${all.size} engine sources under $root")
    val found = all.filter(_.getName != "Materialize.scala").flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      handSortedPins(src).map(l => s"${f.getPath}:$l")
    }
    assert(found.isEmpty, "sort-and-pin outside Materialize.sorted: " +
      found.mkString(", "))
    val gate = all.find(_.getName == "Materialize.scala").get
    assert(handSortedPins(new String(
      java.nio.file.Files.readAllBytes(gate.toPath), "UTF-8")).nonEmpty)
  }
}
