package graft

/** The SparkSessionExtensions registration path: native expressions
  * reachable from plain SQL in the harness session, which installs
  * `GraftExtensions`.
  */
class ExtensionsSpec extends GraftSpec {

  test("graft_dot and graft_sorted_intersect_count are SQL-callable via extensions") {
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect().head.getDouble(0)
    assert(dot == 32.0)

    val ic = spark.sql(
      "SELECT graft_intersect_count(array(1L, 3L, 5L, 7L), array(3L, 4L, 5L)) AS c")
      .collect().head.getLong(0)
    assert(ic == 2L)

    // The SQL form normalizes unsorted/duplicated inputs before the
    // merge scan — arbitrary SQL input must not be silently miscounted.
    val unsorted = spark.sql(
      "SELECT graft_intersect_count(array(5L, 1L, 3L, 3L), array(1L, 3L, 5L)) AS c")
      .collect().head.getLong(0)
    assert(unsorted == 3L)
  }
}
