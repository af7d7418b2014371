package graft.tools

/** Output-path guard for the arg-driven dump tools (TokDump, BaseAudit,
  * KatAudit, ModeRegen).
  *
  * Root cause of the recurring zero-byte 45×`?` junk file at the repo root
  * (VERDICT r15 "What's wrong" #1): under a C-locale JVM
  * (sun.jnu.encoding=ANSI_X3.4-1968) every non-ASCII argv byte decodes to
  * `?`, so passing an inline Japanese sentence where a tool expects an
  * OUTPUT PATH (TokDump's usage is `--path <out> <sentences-file>` — easy to
  * get backwards) turns a 15-char sentence into 45 `?`s and
  * `new PrintWriter(out)` happily creates that file in the cwd. A
  * literal `?` is never intentional in our out paths, so reject it at the
  * tool boundary; scripts/ci.sh additionally lints the repo root so a
  * regression cannot be committed.
  */
object OutPath {
  def checked(path: String): String = {
    require(
      !path.contains('?'),
      s"output path '$path' contains '?' — almost certainly a C-locale " +
        "charset-substituted non-ASCII argv (did you pass a sentence where " +
        "the tool expects an out PATH?); refusing to create a junk file")
    path
  }
}
