package graft

import org.scalatest.funsuite.AnyFunSuite

/** The dev tools under `src/main/scala/graft/tools/` are exactly the
  * ones README's "Dev tools" section lists, so an unlisted one-off probe
  * cannot pile up there unnoticed. */
class ToolInventorySpec extends AnyFunSuite {

  test("every file in graft/tools is listed in README's Dev tools section, and only those") {
    val dir = new java.io.File("src/main/scala/graft/tools")
    assert(dir.isDirectory, s"run from the repository root (no ${dir.getPath})")
    val files = dir.listFiles().map(_.getName).filter(_.endsWith(".scala"))
      .map(_.stripSuffix(".scala")).toSet
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    val section = try readme.getLines().dropWhile(_ != "## Dev tools").drop(1)
      .takeWhile(!_.startsWith("## ")).toList finally readme.close()
    val listed = section.collect { case l if l.startsWith("- `") =>
      l.drop(3).takeWhile(_ != '`')
    }.toSet
    assert(listed.nonEmpty, "README.md has no \"## Dev tools\" list")
    assert((files -- listed).isEmpty, s"tools missing from README's Dev tools: ${files -- listed}")
    assert((listed -- files).isEmpty, s"README lists tools that do not exist: ${listed -- files}")
  }
}
