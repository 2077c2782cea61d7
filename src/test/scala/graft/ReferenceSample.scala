package graft

import java.nio.file.{Files, Paths}

/** The reference's sample database `my_db.json` (FIXTURES.md §A1, dim=2,
  * 4 vectors), committed as a test resource so the parity tests run
  * everywhere. Where the reference checkout is present, its own copy is
  * checked as well. */
object ReferenceSample {
  /** The committed copy, read from the test classpath. */
  val committed: String =
    Paths.get(getClass.getResource("/graft/reference/my_db.json").toURI).toString

  /** The reference checkout's own copy, when it exists. */
  val reference: Option[String] =
    Some("/root/reference/my_db.json").filter(p => Files.isRegularFile(Paths.get(p)))

  /** Every sample the parity assertions run against. */
  def all: Seq[String] = committed +: reference.toSeq
}
