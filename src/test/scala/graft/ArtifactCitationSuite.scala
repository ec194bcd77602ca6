package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical end to the phantom-citation pattern (VERDICT r15–r17: three
  * consecutive rounds cited measurement artifacts that did not exist at
  * commit time — `JOBREAL_F2_r15.md`, `JOBREAL_F2_r16.*`, `TESTRUNS_r17`,
  * `PROBESITES_r17.json`). Every versioned-artifact filename mentioned in
  * the permanent records (SURVEY.md and the round records) must exist on
  * disk, or the build fails. Brace citations (`X_r14.{json,md}`) expand to
  * every member. The same records may not carry placeholder sections
  * (`(pending)`, `(filled ...)`): a record lands with its numbers, or
  * says what superseded them. */
class ArtifactCitationSuite extends AnyFunSuite {

  // artifacts SURVEY discusses precisely BECAUSE they never existed (the
  // retraction notes) — the one legitimate reason to name a missing file
  private val retractedPhantoms = Set(
    "JOBREAL_F2_r16.json", "JOBREAL_F2_r16.md")

  private val citation =
    """([A-Z][A-Za-z0-9_]*_r\d+)\.(json|md|\{[a-z, ]+\})""".r

  private def citedArtifacts(text: String): Seq[String] =
    citation.findAllMatchIn(text).flatMap { m =>
      val stem = m.group(1)
      val ext = m.group(2)
      if (ext.startsWith("{")) {
        ext.stripPrefix("{").stripSuffix("}").split(",")
          .map(_.trim).filter(_.nonEmpty).map(e => s"$stem.$e").toSeq
      } else Seq(s"$stem.$ext")
    }.toSeq.distinct

  private val repo = Paths.get(sys.props.getOrElse("user.dir", "."))

  /** (file name, text) of every permanent record at the repo root. */
  private def records: Seq[(String, String)] = {
    val files = Option(repo.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName == "SURVEY.md" ||
        f.getName.matches("(TESTRUNS|OPTIMIZATION|DECIDE)[A-Za-z0-9_]*\\.md"))
    assert(files.exists(_.getName == "SURVEY.md"),
      "SURVEY.md missing from the repo root — suite must run from the repo")
    files.toSeq.map(f => f.getName -> new String(Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  test("every versioned artifact cited in the permanent records exists") {
    val dangling = records.flatMap { case (name, text) =>
      citedArtifacts(text)
        .filterNot(retractedPhantoms)
        .filterNot(a => Files.exists(repo.resolve(a)))
        .map(a => s"$name cites $a")
    }
    assert(dangling.isEmpty,
      s"dangling artifact citations (commit the file or fix the record):\n  " +
        dangling.mkString("\n  "))
  }

  test("permanent records carry no placeholder sections") {
    val placeholders = records.flatMap { case (name, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains("(pending") || line.contains("(filled") =>
          s"$name:${i + 1}: ${line.trim}"
      }
    }
    assert(placeholders.isEmpty,
      s"placeholder sections in permanent records (fill them or mark them " +
        s"superseded):\n  " + placeholders.mkString("\n  "))
  }

  test("brace citations expand to every member") {
    assert(citedArtifacts("see FOO_r3.{json,md} and BAR_r12.md") ===
      Seq("FOO_r3.json", "FOO_r3.md", "BAR_r12.md"))
  }
}
