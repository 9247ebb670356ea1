package graft

/** Demo utility: re-materialize a CSV as a real .xlsx workbook (all cells
  * as-typed strings) so the reference-compatibility demo can drive the
  * collect-to-cleanse pipeline through the Excel source the way the
  * reference's quickstart spreadsheets would arrive. */
object CsvToXlsx {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: CsvToXlsx <in.csv> <out.xlsx>")
    val spark = Harness.session(cores = 4)
    // read raw (no inference): the workbook carries the file's literal text
    val df = spark.read.option("header", "true").csv(args(0))
    val rows = Seq(df.columns.toSeq) ++
      df.collect().map(_.toSeq.map(v => if (v == null) null else v.toString))
    sources.ExcelSource.write(args(1), rows)
    println(s"[graft] wrote ${rows.length - 1} rows to ${args(1)}")
    spark.stop()
  }
}
