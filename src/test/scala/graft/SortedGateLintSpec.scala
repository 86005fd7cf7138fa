package graft

import org.scalatest.funsuite.AnyFunSuite

/** One pin entry, one sorted-output gate and one stream runner: in the
  * engine sources only `Materialize.scala` may call `localCheckpoint`;
  * every other eager checkpoint calls [[graft.operators.Materialize.pin]],
  * and every sort-and-pin calls [[graft.operators.Materialize.sorted]]. A
  * top-k (`orderBy(...).limit(k)`) is not a range sort and is exempt. Only
  * `StreamRunner.scala` may build an in-process stream (a MemoryStream, a
  * memory sink, a `processAllAvailable` feed loop). The engine caches
  * nothing: no source but `Materialize.scala` calls `persist` or `cache`
  * or names a `StorageLevel` (the between-query `unpersist` sweeps of
  * `Bench` and `Verify` over `getPersistentRDDs` are not caches). */
class SortedGateLintSpec extends AnyFunSuite {

  /** `src` with comments and the contents of string and char literals
    * blanked to spaces; newlines are kept, so offsets and line numbers
    * still hold. */
  def codeOnly(src: String): String = {
    val out = src.toCharArray
    def blank(from: Int, until: Int): Unit =
      (from until math.min(until, src.length)).foreach { j =>
        if (out(j) != '\n') out(j) = ' '
      }
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val end = src.indexOf('\n', i)
        val e = if (end < 0) src.length else end
        blank(i, e); i = e
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (depth > 0 && j < src.length) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val e = if (end < 0) src.length else end + 3
        blank(i + 3, e - 3); i = e
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        blank(i + 1, j); i = j + 1
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        blank(i + 1, i + 2); i += 3
      } else if (src.startsWith("'\\", i) && i + 3 < src.length &&
          src(i + 3) == '\'') {
        blank(i + 1, i + 3); i += 4
      } else i += 1
    }
    new String(out)
  }

  private def lineOf(s: String, at: Int): Int =
    s.substring(0, at).count(_ == '\n') + 1

  /** Index just past the bracket group opening at `open`. */
  private def closeOf(s: String, open: Int): Int = {
    var i = open + 1
    var depth = 1
    while (depth > 0 && i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    i
  }

  /** Lines of `src` with a `.localCheckpoint(` call, however the chain is
    * broken across lines. */
  def bareCheckpoints(src: String): Seq[Int] = {
    val code = codeOnly(src)
    """\.\s*localCheckpoint\s*\(""".r.findAllMatchIn(code)
      .map(m => lineOf(code, m.start)).toSeq
  }

  /** The method names called at the top level of `expr`'s chain. */
  private def topLevelCalls(expr: String): Seq[String] = {
    val calls = Seq.newBuilder[String]
    var i = 0
    while (i < expr.length) {
      expr(i) match {
        case '(' => i = closeOf(expr, i)
        case '.' =>
          var j = i + 1
          while (j < expr.length && expr(j).isWhitespace) j += 1
          val end = expr.indexWhere(c => !c.isLetterOrDigit, j)
          val e = if (end < 0) expr.length else end
          calls += expr.substring(j, e)
          i = e
        case _ => i += 1
      }
    }
    calls.result()
  }

  /** Lines of `src` with a `pin(...)` whose argument is a range sort: its
    * top-level chain calls `orderBy` with no `limit` after it. */
  def handSortedPins(src: String): Seq[Int] = {
    val code = codeOnly(src)
    """\bpin\s*\(""".r.findAllMatchIn(code).flatMap { m =>
      val calls = topLevelCalls(
        code.substring(m.end, closeOf(code, m.end - 1) - 1))
      val sortAt = calls.lastIndexOf("orderBy")
      if (sortAt >= 0 && calls.lastIndexOf("limit") < sortAt)
        Some(lineOf(code, m.start))
      else None
    }.toSeq
  }

  /** Lines of `src` that build an in-process stream: a `MemoryStream[`,
    * a `.format("memory")` sink or a `processAllAvailable(` call. */
  def streamPlumbing(src: String): Seq[Int] = {
    val code = codeOnly(src)
    // literals are blanked in `code`; offsets still hold, so the sink's
    // format name is read from `src`
    val sinks = """\.\s*format\s*\(\s*"""".r.findAllMatchIn(code)
      .filter(m => src.startsWith("\"memory\"", m.end - 1))
    val calls = """\bMemoryStream\s*\[|\bprocessAllAvailable\s*\(""".r
      .findAllMatchIn(code)
    (sinks ++ calls).map(m => lineOf(code, m.start)).toSeq.sorted
  }

  /** Lines of `src` that cache: a `.persist` or `.cache` call, or a
    * `StorageLevel` named anywhere. */
  def cacheCalls(src: String): Seq[Int] = {
    val code = codeOnly(src)
    """\.\s*(?:persist|cache)\b|\bStorageLevel\b""".r.findAllMatchIn(code)
      .map(m => lineOf(code, m.start)).toSeq
  }

  test("the scan flags a sort-and-pin and exempts a top-k") {
    assert(handSortedPins(
      "val a = Materialize.pin(df.orderBy(col(\"k\")))") == Seq(1))
    assert(handSortedPins(
      "x\nMaterialize.pin(df\n.orderBy(col(\")\").desc) // pin\n" +
        "  .select(col(\"k\")))") == Seq(2))
    assert(handSortedPins(
      "Materialize.pin(df.orderBy(col(\"k\")).limit(3))") == Nil)
    assert(handSortedPins("Materialize.pin(df.withColumn(\"r\", " +
      "row_number().over(Window.orderBy(col(\"k\")))))") == Nil)
    assert(handSortedPins(
      "Materialize.pin(df).orderBy(col(\"k\")).collect()") == Nil)
  }

  test("the scan flags every localCheckpoint call and skips comments and strings") {
    assert(bareCheckpoints("val a = df\n  .select(col(\"k\"))\n" +
      "  .localCheckpoint()") == Seq(3))
    assert(bareCheckpoints("df.\n  localCheckpoint(true)\nx") == Seq(1))
    assert(bareCheckpoints("a.localCheckpoint(); b.localCheckpoint ()") ==
      Seq(1, 1))
    assert(bareCheckpoints("// df.localCheckpoint()\n" +
      "/** x.localCheckpoint() /* nested */ y.localCheckpoint() */\n" +
      "  * z.localCheckpoint()\n" + // not a comment outside a block
      "val s = \"a.localCheckpoint()\"; val c = '\"'\n" +
      "s\"\"\"t.localCheckpoint()\"\"\" + df.localCheckpoint()") ==
      Seq(3, 5))
  }

  test("the scan flags stream plumbing and skips comments and strings") {
    assert(streamPlumbing("val m = MemoryStream[Ev]\n" +
      "q.writeStream\n  .format(\"memory\").start()\n" +
      "q.processAllAvailable ()") == Seq(1, 3, 4))
    assert(streamPlumbing("df.write.format(\"parquet\")\n" +
      "import x.MemoryStream\nval n = \"processAllAvailable()\"\n" +
      "// MemoryStream[Ev] .format(\"memory\")\n" +
      "/** q.processAllAvailable() */ MemoryStream [ Doc ]") == Seq(5))
  }

  test("the scan flags persist, cache and StorageLevel and skips the rest") {
    assert(cacheCalls("val a = df.persist()\nb.\n  cache()\n" +
      "c.persist(StorageLevel.DISK_ONLY)\nimport o.a.s.storage.StorageLevel\n" +
      "d.cache") == Seq(1, 2, 4, 4, 5, 6))
    assert(cacheCalls("sc.getPersistentRDDs.values.foreach(_.unpersist(true))\n" +
      "c.unpersist()\nval k = \"spark.sql.codegen.cache.maxEntries\"\n" +
      "// df.persist() StorageLevel\n/** x.cache() */ val cached = 1\n" +
      "cacheManager.lookup(p); df.persisted") == Nil)
  }

  private def engineSources: Seq[(java.io.File, String)] = {
    val root = new java.io.File("src/main/scala")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val all = files(root)
    assert(all.size > 50, s"${all.size} engine sources under $root")
    all.map(f => f ->
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  /** `scan`'s finds outside the source file named `owner`, after
    * checking that it finds the real one inside it. */
  private def outsideGate(scan: String => Seq[Int],
      owner: String): Seq[String] = {
    val (gate, others) = engineSources.partition(_._1.getName == owner)
    assert(gate.size == 1 && scan(gate.head._2).nonEmpty)
    others.flatMap { case (f, src) => scan(src).map(l => s"${f.getPath}:$l") }
  }

  test("no engine source but Materialize.scala sorts and pins by hand") {
    val found = outsideGate(handSortedPins, "Materialize.scala")
    assert(found.isEmpty, "sort-and-pin outside Materialize.sorted: " +
      found.mkString(", "))
  }

  test("no engine source but Materialize.scala calls localCheckpoint") {
    val found = outsideGate(bareCheckpoints, "Materialize.scala")
    assert(found.isEmpty, "localCheckpoint outside Materialize.pin: " +
      found.mkString(", "))
  }

  test("no engine source but Materialize.scala persists, caches or names a StorageLevel") {
    val found = engineSources.filter(_._1.getName != "Materialize.scala")
      .flatMap { case (f, src) => cacheCalls(src).map(l => s"${f.getPath}:$l") }
    assert(found.isEmpty, "cache outside Materialize: " + found.mkString(", "))
  }

  test("no engine source but StreamRunner.scala builds an in-process stream") {
    val found = outsideGate(streamPlumbing, "StreamRunner.scala")
    assert(found.isEmpty, "stream plumbing outside StreamRunner: " +
      found.mkString(", "))
  }
}
