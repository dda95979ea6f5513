package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Expression-evaluation micro-benchmarks — the analog of the
  * reference's `kernel/benches/expression_bench.rs`, which measures
  * `to_json` over (id int, name string, score double, active bool)
  * struct batches (its stats-serialization hot path) at several row
  * counts. Here the same shapes run through Spark's codegen'd
  * built-ins plus this engine's custom expressions:
  *
  *  - `expr_tojson_1m`: to_json over the reference's exact test struct
  *  - `expr_pred_5m`: the §2.3 predicate battery (comparisons, IN,
  *    IS DISTINCT FROM, coalesce, int div, null-on-unrepresentable
  *    cast) in one whole-stage pipeline
  *  - `expr_geo_5m`: st_contains(polygon, st_point) over 5M rows —
  *    the custom codegen'd geo expressions at data-path row rates
  *
  * All drive `toRdd.count()` so the full physical plan executes and
  * nothing is pruned by a count-only optimization.
  */
object ExpressionBench {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession): Map[String, Double] = {
    // the reference's create_test_struct_array, as a generated Dataset
    val base = spark.range(0, 1000000, 1, 32).selectExpr(
      "cast(id as int) as id",
      "concat('user_', id) as name",
      "id * 0.1d + 100.0d as score",
      "id % 3 != 0 as active")
    val tojson = time {
      base.select(to_json(struct(col("id"), col("name"), col("score"),
        col("active"))).as("j"))
        .queryExecution.toRdd.count()
    }

    val pred = time {
      spark.range(0, 5000000, 1, 32)
        .selectExpr(
          "id",
          "cast(id as string) as s",
          "if(id % 7 = 0, null, id) as n")
        .filter(
          "(id > 100 and id < 4999000) or id in (1, 2, 3) " +
            "or n is distinct from id")
        .selectExpr(
          "coalesce(n, -1L) as c",
          "id div 3 as d",
          "try_cast(s as int) as back", // numeric round trip
          "try_cast(concat(s, 'x') as int) as nul") // NULL, never an error
        .queryExecution.toRdd.count()
    }

    val poly = graft.ops.GeoWkb.encodePolygon(Array(Array[Double](
      -50, -40, 60, -40, 60, 35, -50, 35, -50, -40)))
    val geo = time {
      import graft.ops.GeoExprs._
      spark.range(0, 5000000, 1, 32)
        .select(((col("id") % 360) - 180 + 0.5).as("x"),
          ((col("id") % 170) - 85 + 0.25).as("y"))
        .filter(st_contains(lit(poly), st_point(col("x"), col("y"))))
        .queryExecution.toRdd.count()
    }

    Map("expr_tojson_1m" -> tojson, "expr_pred_5m" -> pred,
      "expr_geo_5m" -> geo)
  }
}
