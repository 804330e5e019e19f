package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Every shared per-corpus artifact goes through [[Artifacts]]: a
  * hand-rolled DataFrame memo map or a copied `isStopped` liveness
  * check anywhere else in `src/main/scala` fails this spec.
  * SuffixArray's bounded cache is exempt: it persists its frames and
  * unpersists them on eviction, a lifecycle the registry does not
  * have. */
class ArtifactsGuardSpec extends AnyFunSuite {

  private val Exempt = Set("Artifacts.scala", "SuffixArray.scala")

  private val DataFrameMemo =
    """(ConcurrentHashMap|LinkedHashMap)\[\s*String\s*,[^\]]*DataFrame""".r

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  test("no DataFrame memo map or isStopped copy outside the registry") {
    val files = sources(new java.io.File("src/main/scala"))
    assert(files.size > 50, s"source scan found only ${files.size} files")
    val offenders = files.filterNot(f => Exempt(f.getName)).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      (if (DataFrameMemo.findFirstIn(text).isDefined)
        Seq(s"${f.getPath}: DataFrame memo map") else Nil) ++
        (if (text.contains("isStopped"))
          Seq(s"${f.getPath}: isStopped liveness check") else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
