package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: `graft.Engine` is the one place a SparkSession or a
  * child session is built. Scans every Scala file under src/main/scala
  * and src/test/scala and names each other file whose code (comment
  * lines skipped) calls the session builder or `newSession`.
  */
class SessionFactoryGuardSpec extends AnyFunSuite {
  // split so this file does not match its own scan
  private val calls = Seq("SparkSession" + ".builder(", "." + "newSession(")

  /** The project root: the nearest ancestor of the working directory
    * holding Engine.scala. */
  private lazy val root: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(p => Files.exists(p.resolve("src/main/scala/graft/Engine.scala")))
      .getOrElse(fail("project root with src/main/scala/graft/Engine.scala not found"))

  /** (file, `file:line`) of every code line (not a comment line) making
    * one of the guarded calls. */
  private def callSites: Seq[(Path, String)] =
    for {
      dir <- Seq("src/main/scala", "src/test/scala")
      f <- Using.resource(Files.walk(root.resolve(dir)))(_.iterator.asScala.toList)
      if f.toString.endsWith(".scala")
      (line, i) <- Files.readAllLines(f).asScala.toSeq.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if calls.exists(code.contains)
    } yield f -> s"${root.relativize(f)}:${i + 1}"

  test("only Engine.scala builds a SparkSession or a child session") {
    val (engine, others) = callSites.partition(_._1.getFileName.toString == "Engine.scala")
    if (others.nonEmpty)
      fail("build sessions through graft.Engine (local / builder / isolated), not at: " +
        others.map(_._2).mkString(", "))
    // the scan itself works: it sees the factory's own calls
    assert(engine.nonEmpty)
  }
}
