package graft.core

/** Locale-independent number formatting — the ONE home of the rule that
  * machine-read or user-facing decimals are formatted via `Locale.ROOT`,
  * never the default-locale `f""` interpolator (round-16 advice #4: a
  * comma-decimal JVM — fr_FR, de_DE — turns `f"%.4f"` output into
  * `0,4632`, which breaks the one-line bench JSON contract and misreads
  * in log messages). `Bench` (4-place JSON numbers) and `DedupOps` (the
  * 2-place warn-tier percentage) both format through here.
  *
  * Also the one JSON string escaper behind every machine-read record
  * (`Bench`'s lines, `Verify`'s oracle_sql.json and summary).
  */
object Fmt {
  def num(d: Double, places: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(d))

  /** `s` as a quoted JSON string literal, escaping quote, backslash and
    * ALL control chars (< 0x20) — a tab or CR in a table name or
    * builder-authored SQL would otherwise make a reader's `json.load` fail
    * on the whole record. */
  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' =>
        // no format-string interpolation anywhere near a JSON line (the
        // locale rule above): hex digits built by hand
        "\\u" + ("000" + Integer.toHexString(c.toInt)).takeRight(4)
      case c            => c.toString
    } + "\""
}
