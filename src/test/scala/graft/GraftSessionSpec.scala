package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  /** A session builder call, once comments are blanked out. */
  private val builderCall = """SparkSession\s*\.\s*builder\b""".r
  private val comment = """/\*[\s\S]*?\*/|//[^\n]*""".r

  test("source guard: Spark sessions are built by GraftSession, nowhere else") {
    // the pattern itself (split literals, so this file does not match)
    assert(builderCall.findFirstIn("val s = SparkSession" + ".builder()\n  .master(m)").nonEmpty)
    assert(builderCall.findFirstIn("SparkSession\n  " + ".builder.getOrCreate()").nonEmpty)
    assert(builderCall.findFirstIn("SparkSession.active.builderX").isEmpty)
    val helper = java.nio.file.Paths.get("src/main/scala/graft/core/GraftSession.scala")
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.toString.endsWith(".scala") && p != helper)
    }
    assert(files.size > 200, s"found only ${files.size} sources")
    val bad = files.flatMap { p =>
      val src = comment.replaceAllIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"),
        m => "\n" * m.matched.count(_ == '\n'))
      builderCall.findAllMatchIn(src).map(m => s"$p:${src.take(m.start).count(_ == '\n') + 1}")
    }
    assert(bad.isEmpty, "use graft.core.GraftSession:\n" + bad.mkString("\n"))
  }
}
