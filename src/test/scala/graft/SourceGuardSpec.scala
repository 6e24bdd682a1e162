package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session-state policies in one place each: the session key
  * is built only by the session-view registry, no query file grows its
  * own concurrent map (the immutable-path row-count cache aside), and
  * only [[GraftSession]] builds a SparkSession. A query reads a parquet
  * table only through `Tables.load`, which resolves each table once per
  * session: a direct read would pay schema inference on every build.
  * Workbook staging keeps one path: a local sheet (no numbering window,
  * no RDD), with the format decision made only inside `graft.sources`. Oracle SQL is composed from
  * named building blocks, one home each beside its Spark twin: a block
  * pasted into a second oracle drifts from the Spark primitive it mirrors
  * as soon as one copy is edited, so a re-pasted run of SQL lines fails
  * here and belongs in a shared block instead.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (file, line number) of every line under `dir` containing `needle`. */
  private def hits(dir: Path, needle: String): Seq[(String, Int)] = {
    val files = Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(needle)
    } yield (root.relativize(f).toString, i + 1)
  }

  test("only SessionViews builds a session key") {
    val found = hits(root.resolve("graft"), "GraftSqlBridge.sessionKey(")
    assert(found.map(_._1).distinct == Seq("graft/queries/SessionViews.scala"), found)
  }

  test("the only TrieMap in graft/queries is Tables.rowCounts") {
    val found = hits(root.resolve("graft/queries"), "TrieMap")
    assert(found.size == 1 && found.head._1 == "graft/queries/QueryDef.scala", found)
    val line = Files.readAllLines(root.resolve(found.head._1)).get(found.head._2 - 1)
    assert(line.contains("rowCounts"), line)
  }

  test("under graft/queries only Tables reads parquet") {
    val file = "graft/queries/QueryDef.scala"
    val tables = Files.readAllLines(root.resolve(file)).asScala
      .indexWhere(_.startsWith("object Tables")) + 1
    val found = hits(root.resolve("graft/queries"), "read.parquet(")
    assert(found.nonEmpty && found.forall { case (f, line) =>
      f == file && tables > 0 && line > tables }, found)
  }

  test("only GraftSession calls SparkSession.builder()") {
    val found = hits(root, "SparkSession.builder()")
    assert(found.map(_._1) == Seq("graft/GraftSession.scala"), found)
  }

  test("graft/sources stages without a window or an RDD and alone decides the format") {
    Seq("row_number(", "Window", "parallelize(").foreach { needle =>
      val found = hits(root.resolve("graft/sources"), needle)
      assert(found.isEmpty, s"$needle: $found")
    }
    val callers = hits(root, "isMixedFormat(").map(_._1).distinct
    assert(callers.nonEmpty && callers.forall(_.startsWith("graft/sources/")), callers)
  }

  test("no 6-line run of oracle SQL is pasted twice under graft/queries") {
    // stripMargin SQL lines, whitespace collapsed; a line that is only an
    // interpolation (`|$x,`, `|${f(…)}`) or only `)`/`,` joins no window
    val skip = """\|\s*(\$\w+|\$\{.*\})\s*,?\s*|\|[\s),]*""".r
    val files = Files.walk(root.resolve("graft/queries")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    val runs = files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.map(_.trim).zipWithIndex
      val blocks = lines.foldLeft(Vector(Vector.empty[(String, Int)])) {
        case (acc, (l, i)) =>
          if (!l.startsWith("|")) acc :+ Vector.empty
          else if (skip.matches(l)) acc
          else acc.init :+ (acc.last :+ (l.split("\\s+").mkString(" "), i + 1))
      }
      blocks.flatMap(_.sliding(6).filter(_.size == 6).map(w =>
        (w.map(_._1), s"${root.relativize(f)}:${w.head._2}")))
    }
    val repeated = runs.groupBy(_._1).values.filter(_.size > 1)
      .map(_.map(_._2).mkString(" = ")).toSeq.sorted
    assert(repeated.isEmpty, repeated.mkString("\n"))
  }
}
