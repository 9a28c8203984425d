package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.{CleanFns, Prune}

/** K1 — the flagship CSV sink (reference main.py:1540-1582): union-of-keys
  * header, sorted columns, data-driven pruning, `;` delimiter, utf-8-sig
  * BOM, minimal quoting with quote doubling, newline scrub, per-field size
  * `?`-strip and ROOM_TYPE/PURPOSE re-delimiting.
  *
  * Split into a pure `exportColumns` transform (oracle-checkable: pruning +
  * sorting + scrubbing as Column expressions) and the physical write: one
  * reference-parity file with BOM, whose rows serialize in distributed
  * text parts that the driver concatenates.
  */
object CsvSink {

  /** Reference static exclusions (main.py:1544-1548). */
  val Excluded: Seq[String] = Seq(
    "param", "param_name", "param_unit", "delivery-options",
    "delivery_options", "delivery_options_xml", "option_cost",
    "option_days", "option_order-before", "images", "debug_images_found",
    "offers")

  /** Reference important overrides (main.py:1549-1552). */
  val Important: Set[String] = Set(
    "Размер", "delivery_options@cost", "delivery_options@days",
    "delivery_options@order-before")

  /** Per-field export scrub (main.py:1576-1580): size fields lose '?',
    * ROOM_TYPE/PURPOSE re-delimit ', '->'///', newlines become spaces,
    * values are stripped. Quote doubling is the writer's job. */
  def scrubField(name: String, c: Column): Column = {
    val sized =
      if (name.toLowerCase.contains("размер") ||
          name.toLowerCase.contains("size") || name == "Размер")
        CleanFns.stripQuestion(c)
      else c
    val redelim =
      if (name == "ROOM_TYPE" || name == "PURPOSE") CleanFns.redelimit(sized)
      else sized
    trim(CleanFns.scrubCell(redelim))
  }

  /** The pure export transform: prune (P1-P4) + sorted header (T1) +
    * per-field scrubs, everything string-typed, nulls as empty cells. */
  def exportColumns(df: DataFrame): DataFrame = {
    val sorted = Prune.sortedColumns(
      Prune.prune(df, exclude = Excluded, important = Important))
    sorted.select(sorted.columns.toSeq.map { n =>
      coalesce(scrubField(n, col("`" + n + "`").cast("string")), lit(""))
        .as(n)
    }: _*)
  }

  /** Reference-parity single file: utf-8-sig BOM + header + rows. Row
    * serialization (quote-minimal with `""` doubling, `;` join) runs as
    * codegen'd Column expressions in DISTRIBUTED text parts; the driver
    * writes BOM + header and byte-concatenates the parts. */
  def writeSingleFile(df: DataFrame, path: String): Unit = {
    val cols = df.columns.toSeq
    def quoteStr(v: String): String =
      if (v.contains(";") || v.contains("\"") || v.contains("\n") ||
          v.contains("\r"))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    // single-pass codegen'd QUOTE_MINIMAL kernel (the composed form ran a
    // regex probe + a regex replace per cell)
    def quoteCol(c: Column): Column =
      graft.functions.CsvQuote.quoteCell(coalesce(c.cast("string"), lit("")))
    // concat_ws would silently SKIP null columns and misalign rows; every
    // cell is coalesced to "" above, so the join is position-faithful
    val line = concat_ws(";",
      cols.map(n => quoteCol(col("`" + n + "`"))): _*).as("value")
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(
      Paths.get(path), StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING))
    try {
      out.write("﻿".getBytes(StandardCharsets.UTF_8))
      out.write((cols.map(quoteStr).mkString(";") + "\r\n")
        .getBytes(StandardCharsets.UTF_8))
      PartFiles.drain(df.select(line), out, lineSep = "\r\n")
    } finally out.close()
  }
}
