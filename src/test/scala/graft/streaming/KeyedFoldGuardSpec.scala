package graft.streaming

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Keeps every live twin on the shared runtime: KeyedFold.scala is the
  * only streaming source that may touch Spark's stateful group API. */
class KeyedFoldGuardSpec extends AnyFunSuite {

  test("only KeyedFold.scala mentions flatMapGroupsWithState or GroupState") {
    val dir = new File("src/main/scala/graft/streaming")
    val sources = Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".scala"))
    assert(sources.exists(_.getName == "KeyedFold.scala"),
      s"no streaming sources found under ${dir.getAbsolutePath}")
    val offenders = sources.filter(_.getName != "KeyedFold.scala").filter { f =>
      val src = Source.fromFile(f, "UTF-8")
      try {
        val text = src.mkString
        Seq("flatMapGroupsWithState", "GroupState").exists(text.contains)
      } finally src.close()
    }
    assert(offenders.isEmpty,
      s"fold through KeyedFold instead: ${offenders.map(_.getName).mkString(", ")}")
  }
}
