package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** [[SessionRecipe]] is the plan tools' copy of Bench's session recipe;
  * Bench keeps its own, so this pins the two together by reading the
  * `.config` pairs of `Bench.buildSession` from its source.
  */
class SessionRecipeSpec extends AnyFunSuite {

  test("SessionRecipe.confs equals the .config pairs of Bench.buildSession") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/Bench.scala")), "UTF-8")
    val start = src.indexOf("def buildSession(")
    assert(start >= 0, "Bench.buildSession not found")
    val body = src.substring(start, src.indexOf(".getOrCreate()", start))
    // a value is a string literal or the `cpus` parameter
    val pair = """\.config\(\s*"([^"]+)"\s*,\s*(?:"([^"]*)"|(\w+))\s*\)""".r
    val cpus = "7"
    val bench = pair.findAllMatchIn(body).map { m =>
      m.group(1) -> Option(m.group(2)).getOrElse {
        assert(m.group(3) == "cpus", s"unexpected value for ${m.group(1)}")
        cpus
      }
    }.toSeq
    assert(bench.nonEmpty)
    assert(bench.map(_._1).distinct.size === bench.size)
    assert(SessionRecipe.confs(cpus).toMap === bench.toMap)
    assert(SessionRecipe.confs(cpus).size === bench.size)
    assert(body.contains("""master(s"local[$cpus]")"""))
  }
}
