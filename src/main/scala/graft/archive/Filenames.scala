package graft.archive

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Archive filename algebra as reusable column expressions (reference:
  * src/archiver/filenames.rs — the filename IS the metadata: kind + range +
  * optional fork hash).
  *
  * Layout: singles `L1/L2/<height>[.<hash>].<kind>.avro`, ranges
  * `L1/range-<start>_<end>.<kind>.avro`, with L1 = height/1e6, L2 =
  * height/1e3, 9-digit zero-padding (filenames.rs:51-83,110-135).
  */
object Filenames {

  val PadWidth = 9
  val L1Size = 1000000L
  val L2Size = 1000L

  def padded(height: Column): Column = lpad(height.cast("string"), PadWidth, "0")

  // Plain-Scala twins of the column expressions, for writers that name
  // files per task (e.g. AvroArchiveSink). `%09d` pads but never truncates,
  // so heights ≥ 1e9 widen exactly like the reference's `{:0length$}`.
  def paddedS(v: Long): String = f"$v%09d"
  def l1S(h: Long): Long = h / L1Size * L1Size
  def l2S(h: Long): Long = h / L2Size * L2Size

  /** Relative single path `L1/L2/<height>[.<hash>].<suffix>.avro`
    * (filenames.rs:72-78).
    */
  def relativeSinglePath(h: Long, kind: String, hash: Option[String] = None): String = {
    val name = hash match {
      case None      => s"${paddedS(h)}.${singleSuffix(kind)}.avro"
      case Some(hsh) => s"${paddedS(h)}.$hsh.${singleSuffix(kind)}.avro"
    }
    s"${paddedS(l1S(h))}/${paddedS(l2S(h))}/$name"
  }

  /** Relative range path `L1/range-<s>_<e>.<kind>.avro` (filenames.rs:79-83). */
  def relativeRangePath(s: Long, e: Long, kind: String): String =
    s"${paddedS(l1S(s))}/range-${paddedS(s)}_${paddedS(e)}.${normalizeKind(kind)}.avro"

  def l1(height: Column): Column = floor(height / L1Size).cast("long") * L1Size
  def l2(height: Column): Column = floor(height / L2Size).cast("long") * L2Size

  def l1Dir(height: Column): Column = padded(l1(height))
  def l2Dir(height: Column): Column = padded(l2(height))

  /** Write-side suffix for a SINGLE file: the reference writes `block`
    * (singular) for one-block block files, `txes`/`traces` otherwise
    * (filenames.rs:52-56).
    */
  def singleSuffix(kind: String): String = normalizeKind(kind) match {
    case "blocks" => "block"
    case other    => other
  }

  /** Canonical kind for any accepted alias, mirroring `DataKind::from_str`
    * (src/archiver/datakind.rs:40-47); unknown aliases throw (write side —
    * the parse side returns null instead, like the reference's `None`).
    */
  def normalizeKind(kind: String): String = kind match {
    case "blocks" | "block"                               => "blocks"
    case "txes" | "tx" | "transactions" | "transaction"   => "txes"
    case "traces" | "trace"                               => "traces"
    case other => throw new IllegalArgumentException(s"unknown kind: $other")
  }

  /** `<height>.<single-suffix>.avro`, or `<height>.<hash>.<suffix>.avro`
    * for forked heights (filenames.rs:51-68). The hash must be the 64-hex
    * block hash — shorter strings won't survive the round-trip parse (the
    * reference's RE_SINGLE pins `[a-f0-9]{64}`).
    */
  def singleFile(height: Column, kind: String, hash: Option[Column] = None): Column = {
    val suffix = singleSuffix(kind)
    hash match {
      case None    => concat(padded(height), lit(s".$suffix.avro"))
      case Some(h) => concat(padded(height), lit("."), h, lit(s".$suffix.avro"))
    }
  }

  /** `range-<start>_<end>.<kind>.avro` (filenames.rs:69-83). */
  def rangeFile(start: Column, end: Column, kind: String): Column =
    concat(lit("range-"), padded(start), lit("_"),
      padded(end), lit(s".${normalizeKind(kind)}.avro"))

  /** Full single path `L1/L2/<file>` (filenames.rs:110-135). */
  def singlePath(height: Column, kind: String, hash: Option[Column] = None): Column =
    concat(l1Dir(height), lit("/"), l2Dir(height), lit("/"), singleFile(height, kind, hash))

  /** Full range path `L1/<file>`. */
  def rangePath(start: Column, end: Column, kind: String): Column =
    concat(l1Dir(start), lit("/"), rangeFile(start, end, kind))

  // Parsers (filenames.rs:8-9,29-49): regexes over the basename, matching
  // the reference exactly — variable-width heights (padding overflows 9
  // digits past 1e9), a 64-hex fork hash, and an optional codec segment
  // (`<h>.<kind>.gz.avro` etc.). The column parsers and their plain-Scala
  // twins below share these two patterns.
  private val SingleRe = "^(\\d+)(?:\\.([0-9a-f]{64}))?\\.(\\w+)(?:\\.\\w+)?\\.avro$"
  private val RangeRe = "^range-(\\d+)_(\\d+)\\.(\\w+)(?:\\.\\w+)?\\.avro$"
  private val SingleR = SingleRe.r
  private val RangeR = RangeRe.r

  /** The last path segment — the part of a path the parsers read. */
  def baseName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** Plain-Scala [[parseKind]] of a path's basename, for catalog-sized
    * driver listings; None where the column parser yields null.
    */
  def parseKindS(path: String): Option[String] = {
    val raw = baseName(path) match {
      case SingleR(_, _, k) => Some(k)
      case RangeR(_, _, k)  => Some(k)
      case _                => None
    }
    raw.flatMap(k => scala.util.Try(normalizeKind(k)).toOption)
  }

  /** Plain-Scala [[parseStart]]/[[parseEnd]]: the height range a path's
    * basename covers.
    */
  def parseRangeS(path: String): Option[(Long, Long)] = baseName(path) match {
    case SingleR(h, _, _) => Some((h.toLong, h.toLong))
    case RangeR(s, e, _)  => Some((s.toLong, e.toLong))
    case _                => None
  }

  /** Plain-Scala [[parseForkHash]]: the 64-hex hash of a forked single;
    * None for plain singles, ranges and foreign names.
    */
  def parseForkHashS(path: String): Option[String] = baseName(path) match {
    case SingleR(_, h, _) => Option(h)
    case _                => None
  }

  def isRange(file: Column): Column = file.rlike("^range-")

  /** Canonical kind column, or null for names/kinds the reference's parser
    * rejects (`DataKind::from_str` alias table, datakind.rs:40-47).
    */
  def parseKind(file: Column): Column = {
    val raw = when(isRange(file), regexp_extract(file, RangeRe, 3))
      .otherwise(regexp_extract(file, SingleRe, 3))
    when(raw.isin("blocks", "block"), "blocks")
      .when(raw.isin("txes", "tx", "transactions", "transaction"), "txes")
      .when(raw.isin("traces", "trace"), "traces")
      .otherwise(lit(null).cast("string"))
  }

  def parseStart(file: Column): Column =
    when(isRange(file), regexp_extract(file, RangeRe, 1).cast("long"))
      .otherwise(regexp_extract(file, SingleRe, 1).cast("long"))

  def parseEnd(file: Column): Column =
    when(isRange(file), regexp_extract(file, RangeRe, 2).cast("long"))
      .otherwise(regexp_extract(file, SingleRe, 1).cast("long"))

  /** Fork hash for singles written during reorgs; null when absent. */
  def parseForkHash(file: Column): Column = {
    val h = regexp_extract(file, SingleRe, 2)
    when(isRange(file) || h === "", lit(null).cast("string")).otherwise(h)
  }
}
