package graft.sql

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one-lexer rule of the SQL front-ends: literal and comment
  * structure is read only through [[SqlText.blank]] and the helpers built
  * on it. Every hand-rolled quote scanner the front-ends used to carry had
  * its own escape rules, and their disagreements were user-visible defects
  * (a literal taken for structure, a window call left unrewritten, a
  * column dropped from a read schema).
  *
  * The gate is a source scan: a single-quote char literal anywhere in main
  * source outside `sql/SqlText.scala` is a new scanner and fails this spec.
  */
class LexerDisciplineSpec extends AnyFunSuite {

  private def scalaFiles(dir: File): Seq[File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    kids.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
      kids.filter(_.isDirectory).flatMap(scalaFiles)
  }

  private val root = new File("src/main/scala/graft")
  private val quoteChar = "'\\''"

  test("only SqlText scans for quotes: no '\\'' char literal elsewhere in main source") {
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "SqlText.scala"), s"no main source under $root")
    val offenders = files.flatMap { f =>
      val rel = f.getPath.replace("src/main/scala/graft/", "").replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      if (rel == "sql/SqlText.scala") Nil
      else lines.zipWithIndex.collect { case (l, i) if l.contains(quoteChar) => s"$rel:${i + 1}" }
    }
    assert(offenders.isEmpty,
      s"quote scanning outside SqlText at $offenders — locate structure on " +
        "SqlText.blank / blankedMatch / Blanked / closeParen / splitTop instead")
  }
}
