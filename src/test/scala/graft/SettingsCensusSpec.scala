package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.*` setting the engine reads is listed in the README's
  * settings table, and the table lists nothing else. A new option then
  * has to be named, with the caller that needs a second value, before
  * it can land; an option whose last reader goes must leave the table.
  *
  * The census takes every string literal of the form `"graft.a.b"` in
  * `src/main/scala` — keys held in constants such as
  * `ZoneMaps.EnabledConf` are literals too. Class names (a segment
  * that starts upper-case, e.g. `graft.tools.MiniFsServer`) are not
  * settings and are left out.
  *
  * A second census covers the tests: every `graft.*` key a test sets
  * must be in the table too, so a test still setting a removed option
  * — and therefore testing nothing — fails here instead of passing
  * vacuously. */
class SettingsCensusSpec extends AnyFunSuite {

  private val root: Path = Iterator
    .iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
    .takeWhile(_ != null)
    .find(d => Files.isDirectory(d.resolve("src/main/scala/graft")))
    .getOrElse(fail("repository root not found"))

  private val KeyLiteral = """"(graft(?:\.[A-Za-z0-9_]+)+)"""".r
  private val TableRow = """^\|\s*`(graft\.[A-Za-z0-9_.]+)`\s*\|""".r
  private val TestSetting =
    """(?:[cC]onf\.set|\.config)\(\s*"(graft(?:\.[A-Za-z0-9_]+)+)"""".r

  /** Keys `pattern` captures in the `.scala` files under `dir`, class
    * names left out. */
  private def keysIn(dir: String, pattern: scala.util.matching.Regex)
      : Set[String] = {
    val files = Files.walk(root.resolve(dir)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f =>
      pattern.findAllMatchIn(Files.readString(f)).map(_.group(1))
    }.filterNot(_.split('.').exists(_.headOption.exists(_.isUpper))).toSet
  }

  private def keysInReadme(): Set[String] = {
    val lines = Files.readAllLines(root.resolve("README.md")).asScala
    val table = lines.dropWhile(_ != "## Settings").drop(1)
      .takeWhile(!_.startsWith("## "))
    table.flatMap(l => TableRow.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  test("the settings the engine reads are exactly the README's table") {
    val src = keysIn("src/main/scala", KeyLiteral)
    val doc = keysInReadme()
    assert(src.nonEmpty && doc.nonEmpty, s"source $src, README $doc")
    assert((src -- doc).isEmpty, s"read but not in README: ${src -- doc}")
    assert((doc -- src).isEmpty, s"in README but never read: ${doc -- src}")
  }

  test("every graft.* setting a test sets is in the README's table") {
    val set = keysIn("src/test/scala", TestSetting)
    val doc = keysInReadme()
    assert(set.nonEmpty && doc.nonEmpty, s"tests $set, README $doc")
    assert((set -- doc).isEmpty,
      s"set by a test but not in README: ${set -- doc}")
  }
}
