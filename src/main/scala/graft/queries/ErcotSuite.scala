package graft.queries

import graft.pipelines.Ercot

/** S5 binary-Excel query surface: the melted ERCOT hourly-load table
  * (parsed by sources.XlsBinary from the reference BIFF8 workbook, or
  * from tools.GenXls's synthetic workbook of the same shape when the
  * reference is absent — see Ercot.ensure) queried for per-region max
  * load + first occurrence time — excel_csv.py's output, DuckDB-oracled
  * over the shared melted parquet.
  */
object ErcotSuite {

  private def E = s"read_parquet('${Ercot.meltedPath}/*.parquet')"

  val queries: Map[String, Q] = Map(
    "s5_ercot_max_loads" -> Q(
      (s, _) => {
        Ercot.ensure(s)
        graft.Graft.tune(s)
        Ercot.maxLoads(graft.Graft.read(s, Ercot.meltedPath))
      },
      Some(s"""WITH m AS (
        |  SELECT station, MAX(load) AS max_load FROM $E GROUP BY station
        |), f AS (
        |  SELECT e.station, MIN(e.serial) AS serial, MAX(e.load) AS max_load
        |  FROM $E e JOIN m ON e.station = m.station AND e.load = m.max_load
        |  GROUP BY e.station
        |), t AS (
        |  SELECT station, max_load,
        |    epoch_ms(CAST(FLOOR((serial - 25569) * 86400 + 0.5) AS BIGINT) * 1000) AS ts
        |  FROM f
        |)
        |SELECT station, CAST(year(ts) AS BIGINT) AS year,
        |  CAST(month(ts) AS BIGINT) AS month, CAST(day(ts) AS BIGINT) AS day,
        |  CAST(hour(ts) AS BIGINT) AS hour, max_load
        |FROM t ORDER BY station""".stripMargin),
      "S5 binary .xls: per-region max load + first occurrence " +
        "(01/excel_csv.py goldens; xlrd-parity serial rounding)"))
}
