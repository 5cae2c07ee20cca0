package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ColumnNotInDataframeError, SparkTestBase}

class DataFrameOpsSpec extends SparkTestBase {
  import spark.implicits._

  // ------------------------------------------------------------- melt
  // Golden case mirrors reference tests/helpers/test_pyspark.py:79-123.
  private def meltInput = df("col1 INT, col2 INT, col3 INT, col4 INT",
    Seq(1, 2, 3, 4), Seq(5, 6, 7, 8), Seq(9, 10, 11, 12))

  // named-case parametrisation mirrors the reference's
  // @parametrize_cases(Case(label=...)) idiom one-for-one
  private case class MeltCase(
      idVars: Seq[String], valueVars: Seq[String],
      expectedDdl: String, expectedRows: Seq[Seq[Any]])

  parametrizeCases("melt golden cases")(
    Case("id_vars=[col1]_value_vars=[col2, col3]", MeltCase(
      Seq("col1"), Seq("col2", "col3"),
      "col1 INT, variable STRING, value INT",
      Seq(Seq(1, "col2", 2), Seq(1, "col3", 3), Seq(5, "col2", 6),
        Seq(5, "col3", 7), Seq(9, "col2", 10), Seq(9, "col3", 11)))),
    Case("id_vars=[col1, col2]_value_vars=[col3, col4]", MeltCase(
      Seq("col1", "col2"), Seq("col3", "col4"),
      "col1 INT, col2 INT, variable STRING, value INT",
      Seq(Seq(1, 2, "col3", 3), Seq(1, 2, "col4", 4), Seq(5, 6, "col3", 7),
        Seq(5, 6, "col4", 8), Seq(9, 10, "col3", 11), Seq(9, 10, "col4", 12)))),
  ) { c =>
    val actual = DataFrameOps.melt(meltInput, c.idVars, c.valueVars)
    assertDfEqual(actual, df(c.expectedDdl, c.expectedRows: _*))
  }

  test("melt: custom var/value names") {
    val actual = DataFrameOps.melt(meltInput, Seq("col1"), Seq("col2"), "k", "v")
    assert(actual.columns.toSeq == Seq("col1", "k", "v"))
  }

  test("melt: missing column raises ColumnNotInDataframeError") {
    assertThrows[ColumnNotInDataframeError](
      DataFrameOps.melt(meltInput, Seq("nope"), Seq("col2")))
  }

  // ------------------------------------------------- colnameToValueMap
  test("colnameToValueMap builds map of column name to value") {
    val d = df("a STRING, b STRING", Seq("x", "y"))
      .withColumn("m", DataFrameOps.colnameToValueMap(Seq("a", "b")))
    val row = d.select(element_at($"m", "a"), element_at($"m", "b")).head()
    assert(row.getString(0) == "x" && row.getString(1) == "y")
  }

  // ---------------------------------------------- setColumnsNullable
  test("setColumnsNullable flips nullability flags only") {
    val d = df("a INT, b STRING", Seq(1, "x"))
    val out = DataFrameOps.setColumnsNullable(d, Seq("a"), nullable = false)
    assert(!out.schema("a").nullable)
    assert(out.schema("b").nullable)
    assertDfEqual(out, d.select($"a", $"b"))
  }

  // ------------------------------------------------------------ toList
  test("toList flattens single-column frames") {
    assert(DataFrameOps.toList(Seq(1, 2, 3).toDF("x")) == List(1, 2, 3))
  }

  test("toList keeps rows for multi-column frames") {
    assert(DataFrameOps.toList(Seq((1, "a")).toDF("x", "y")) == List(Seq(1, "a")))
  }

  // ---------------------------------------------------- mapColumnNames
  test("mapColumnNames renames mapped, passes through unmapped, keeps order") {
    val out = DataFrameOps.mapColumnNames(
      df("a INT, b INT, c INT", Seq(1, 2, 3)), Map("b" -> "bb"))
    assert(out.columns.toSeq == Seq("a", "bb", "c"))
  }

  // --------------------------------------------------------- isDfEmpty
  test("isDfEmpty") {
    assert(DataFrameOps.isDfEmpty(Seq.empty[Int].toDF("x")))
    assert(!DataFrameOps.isDfEmpty(Seq(1).toDF("x")))
  }

  // ----------------------------------------------------- unpackListCol
  test("unpackListCol explodes array column") {
    val d = Seq((1, Seq("a", "b"))).toDF("id", "xs")
    val out = DataFrameOps.unpackListCol(d, "xs", "x")
    assert(out.select("x").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("unpackListCol reference golden cases: in-place unpack, empty strings") {
    // mirrors tests/helpers/test_pyspark.py:276-341
    val multi = Seq(("cheese", Seq("cheddar", "brie", "gorgonzola"))).toDF("col_1", "to_unpack")
    val out = DataFrameOps.unpackListCol(multi, "to_unpack", "to_unpack")
    assertDfEqual(out, df("col_1 STRING, to_unpack STRING",
      Seq("cheese", "cheddar"), Seq("cheese", "brie"), Seq("cheese", "gorgonzola")))
    val withEmpty = Seq(("cheese", Seq("cheddar", ""))).toDF("col_1", "to_unpack")
    assert(DataFrameOps.unpackListCol(withEmpty, "to_unpack", "to_unpack").count() == 2)
  }

  test("cumulativeArray reference golden cases: ragged and empty arrays") {
    // mirrors tests/helpers/test_pyspark.py:1532-1561
    val d = Seq((1, Seq(1.0, 2.0, 3.0)), (2, Seq(4.0, 5.0))).toDF("id", "values")
    val out = DataFrameOps.cumulativeArray(d, "values", "cum")
      .select("id", "cum").as[(Int, Seq[Double])].collect().toMap
    assert(out == Map(1 -> Seq(1.0, 3.0, 6.0), 2 -> Seq(4.0, 9.0)))
    val empty = Seq((1, Seq.empty[Double])).toDF("id", "values")
    assert(DataFrameOps.cumulativeArray(empty, "values", "cum")
      .select("cum").as[Seq[Double]].head() == Seq.empty)
  }

  test("cumulativeArray resolves dotted column names exactly (ADVICE r19)") {
    // df.col(...) exact-name resolution: a name containing a dot must
    // not be parsed as struct-field access (the backtick quoting the
    // pre-kernel expr() form had)
    val d = Seq((1, Seq(1.0, 2.0))).toDF("id", "a.b")
    val out = DataFrameOps.cumulativeArray(d, "a.b", "cum")
      .select("cum").as[Seq[Double]].head()
    assert(out == Seq(1.0, 3.0))
  }

  test("cumulativeArray: PrefixSumExpr kernel ≡ the reference HOF fold") {
    // the r19 kernel must replay the fold's exact IEEE add sequence,
    // incl. null poisoning and int→double coercion
    val d = Seq(
      (1, Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (2, Seq[java.lang.Double](0.1, 0.2, 0.3, 0.7, -0.3)),
      (3, Seq[java.lang.Double](4.0, null, 5.0)),
      (4, Seq[java.lang.Double](null)),
      (5, Seq.empty[java.lang.Double]),
      (6, Seq[java.lang.Double](1e308, 1e308, -1e308)),
      // r20 adversarial pins: NaN poisons arithmetically (later slots
      // NaN, not null); -0.0 folds 0D + -0.0 = +0.0 in slot 0 (the fold
      // starts at 0D, so the sign is dropped exactly like the HOF);
      // Infinity − Infinity = NaN mid-array
      (7, Seq[java.lang.Double](Double.NaN, 1.0, null, 2.0)),
      (8, Seq[java.lang.Double](-0.0, -1.0, 1.0)),
      (9, Seq[java.lang.Double](Double.PositiveInfinity,
        Double.NegativeInfinity, 1.0))).toDF("id", "values")
    // bit-pattern comparison: NaN == NaN and +0.0 != -0.0 (Scala ==
    // unboxes java.lang.Double, so Some(NaN) != Some(NaN) otherwise)
    def canon(xs: Seq[Option[Double]]): Seq[Option[Long]] =
      xs.map(_.map(java.lang.Double.doubleToLongBits))
    val hof = d.withColumn("cum",
      expr("transform(`values`, (x, i) -> " +
        "aggregate(slice(`values`, 1, i), 0D, (acc, y) -> acc + y) + x)"))
      .select("id", "cum").as[(Int, Seq[Option[Double]])].collect()
      .map { case (k, v) => k -> canon(v) }.toMap
    val kernel = DataFrameOps.cumulativeArray(d, "values", "cum")
      .select("id", "cum").as[(Int, Seq[Option[Double]])].collect()
      .map { case (k, v) => k -> canon(v) }.toMap
    assert(kernel == hof)
    // int input coerces like the fold's 0D + y
    val ints = Seq((1, Seq(1, 2, 3))).toDF("id", "values")
    assert(DataFrameOps.cumulativeArray(ints, "values", "cum")
      .select("cum").as[Seq[Double]].head() == Seq(1.0, 3.0, 6.0))
  }

  // ------------------------------------------- struct nest / flatten
  test("convertColsToStructCol + convertStructColToColumns round-trip") {
    val d = df("id INT, a STRING, b INT", Seq(1, "x", 2))
    val nested = DataFrameOps.convertColsToStructCol(d, "s", Seq("a", "b"))
    assert(nested.columns.toSeq == Seq("id", "s"))
    assert(nested.schema("s").dataType.isInstanceOf[StructType])
    val flat = DataFrameOps.convertStructColToColumns(nested)
    assertDfEqual(flat, df("id INT, a STRING, b INT", Seq(1, "x", 2)))
  }

  test("convertColsToStructCol reference golden cases: single and multi column") {
    // mirrors tests/helpers/test_pyspark.py:621-700
    val input = df("column_a STRING, column_b STRING, column_c STRING",
      Seq("AA1", "BB1", "CC1"), Seq("AA2", "BB2", "CC2"))
    val single = DataFrameOps.convertColsToStructCol(input, "struct_column", Seq("column_c"))
    assert(single.columns.toSeq == Seq("column_a", "column_b", "struct_column"))
    assert(single.schema("struct_column").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("column_c"))
    assert(single.orderBy("column_a").collect()(0).getStruct(2).getString(0) == "CC1")
    val multi = DataFrameOps.convertColsToStructCol(input, "struct_column",
      Seq("column_b", "column_c"))
    assert(multi.columns.toSeq == Seq("column_a", "struct_column"))
    assert(multi.orderBy("column_a").collect()(1).getStruct(1).toSeq == Seq("BB2", "CC2"))
  }

  test("convertColsToStructCol with empty selection creates placeholder field") {
    val nested = DataFrameOps.convertColsToStructCol(
      df("id INT", Seq(1)), "s", Seq.empty)
    val s = nested.schema("s").dataType.asInstanceOf[StructType]
    assert(s.fieldNames.toSeq == Seq("no_s"))
  }

  test("convertStructColToColumns recurses when asked") {
    val d = df("id INT, a STRING, b INT", Seq(1, "x", 2))
    val doubleNested = DataFrameOps.convertColsToStructCol(
      DataFrameOps.convertColsToStructCol(d, "inner", Seq("a", "b")),
      "outer", Seq("inner"))
    val flat = DataFrameOps.convertStructColToColumns(doubleNested, convertNestedStructs = true)
    assert(flat.schema.fields.forall(!_.dataType.isInstanceOf[StructType]))
  }

  // -------------------------------------------------------- cutLineage
  test("cutLineage preserves rows and schema") {
    val d = df("a INT, b STRING", Seq(1, "x"), Seq(2, "y"))
    val out = DataFrameOps.cutLineage(d)
    assert(out.schema == d.schema)
    assertDfEqual(out, d)
  }

  // -------------------------------------- dropDuplicatesReproducible
  test("dropDuplicatesReproducible keeps lowest-id row per key") {
    val d = df("k STRING, id INT, v STRING",
      Seq("a", 2, "second"), Seq("a", 1, "first"), Seq("b", 3, "only"))
    val out = DataFrameOps.dropDuplicatesReproducible(d, "k", Some("id"))
    assertDfEqual(out.select("k", "v"),
      df("k STRING, v STRING", Seq("a", "first"), Seq("b", "only")))
  }

  test("dropDuplicatesReproducible preserves user columns named rank/dup_id") {
    // regression: round-1 version silently dropped these (VERDICT #3)
    val d = df("k STRING, id INT, rank INT, dup_id INT",
      Seq("a", 1, 99, 42), Seq("a", 2, 98, 41))
    val out = DataFrameOps.dropDuplicatesReproducible(d, "k", Some("id"))
    assert(out.columns.toSeq == Seq("k", "id", "rank", "dup_id"))
    assert(out.head().getInt(2) == 99 && out.head().getInt(3) == 42)
  }

  test("dropDuplicatesReproducible without idCol is deterministic across runs") {
    val d = df("k STRING, v INT", Seq("a", 1), Seq("a", 2), Seq("b", 3))
    val out1 = DataFrameOps.dropDuplicatesReproducible(d, "k").collect().toSet
    val out2 = DataFrameOps.dropDuplicatesReproducible(d, "k").collect().toSet
    assert(out1 == out2)
    assert(out1.size == 2)
  }

  test("dropDuplicatesReproducible rank ties are all kept (reference rank semantics)") {
    val d = df("k STRING, id INT", Seq("a", 1), Seq("a", 1), Seq("a", 2))
    val out = DataFrameOps.dropDuplicatesReproducible(d, "k", Some("id"))
    assert(out.count() == 2) // both id=1 rows survive, like reference F.rank
  }

  // ------------------------------------------------------ applyColFunc
  test("applyColFunc folds function over columns") {
    val out = DataFrameOps.applyColFunc(
      df("a STRING, b STRING", Seq("x", "y")), Seq("a", "b"),
      (d, c) => d.withColumn(c, upper(col(c))))
    assertDfEqual(out, df("a STRING, b STRING", Seq("X", "Y")))
  }

  // ----------------------------------------------------- randomUniform
  test("randomUniform stays within [lower, upper) and is seed-deterministic") {
    val d = spark.range(100).toDF("id")
    val out = DataFrameOps.randomUniform(d, "u", 5.0, 7.0, Some(1L))
    val vals = out.select("u").as[Double].collect()
    assert(vals.forall(v => v >= 5.0 && v < 7.0))
    val again = DataFrameOps.randomUniform(d, "u", 5.0, 7.0, Some(1L))
      .select("u").as[Double].collect()
    assert(vals.toSeq == again.toSeq)
  }

  // --------------------------------------------------- cumulativeArray
  test("cumulativeArray computes running sums") {
    val d = Seq((1, Seq(1.0, 2.0, 3.0))).toDF("id", "xs")
    val out = DataFrameOps.cumulativeArray(d, "xs", "cum")
    assert(out.select("cum").as[Seq[Double]].head() == Seq(1.0, 3.0, 6.0))
  }

  // ------------------------------------------------ union / join multi
  test("unionMismatchedDfs null-fills missing columns") {
    val out = DataFrameOps.unionMismatchedDfs(
      df("a INT, b STRING", Seq(1, "x")), df("a INT, c STRING", Seq(2, "y")))
    assertDfEqual(out, df("a INT, b STRING, c STRING",
      Seq(1, "x", null), Seq(2, null, "y")))
  }

  test("unionMultiDfs unions positionally; empty input rejected") {
    val d = df("a INT", Seq(1))
    assert(DataFrameOps.unionMultiDfs(Seq(d, d, d)).count() == 3)
    assertThrows[IllegalArgumentException](DataFrameOps.unionMultiDfs(Nil))
  }

  test("joinMultiDfs folds joins; validates join type") {
    val d1 = df("k INT, a STRING", Seq(1, "x"))
    val d2 = df("k INT, b STRING", Seq(1, "y"))
    val d3 = df("k INT, c STRING", Seq(1, "z"))
    val out = DataFrameOps.joinMultiDfs(Seq(d1, d2, d3), Seq("k"), "inner")
    assert(out.columns.toSeq == Seq("k", "a", "b", "c"))
    assert(out.count() == 1)
    assertThrows[IllegalArgumentException](
      DataFrameOps.joinMultiDfs(Seq(d1, d2), Seq("k"), "sideways"))
  }

  // -------------------------------------------------------- sumColumns
  test("sumColumns sums row-wise and propagates nulls like the reference") {
    val d = df("a INT, b INT", Seq(1, 2), Seq(3, null))
    val out = DataFrameOps.sumColumns(d, Seq("a", "b"), "total")
    val got = out.select("total").collect().map(r => Option(r.get(0))).toSet
    assert(got == Set(Some(3), None))
  }

  // ---------------------------------------------------------- setNulls
  test("setNulls nulls listed values") {
    val d = df("x STRING", Seq("keep"), Seq("kill"), Seq("kill2"))
    val out = DataFrameOps.setNulls(d, "x", Seq("kill", "kill2"))
    val got = out.collect().map(r => Option(r.getString(0))).toSet
    assert(got == Set(Some("keep"), None))
  }

  // --------------------------------------------------- mapColumnValues
  test("mapColumnValues recodes with passthrough; optional output column") {
    val d = df("x STRING", Seq("a"), Seq("b"), Seq("z"))
    val out = DataFrameOps.mapColumnValues(d, Map("a" -> "A", "b" -> "B"), "x")
    assert(out.as[String].collect().sorted.toSeq == Seq("A", "B", "z"))
    val out2 = DataFrameOps.mapColumnValues(d, Map("a" -> "A"), "x", Some("y"))
    assert(out2.columns.toSeq == Seq("x", "y"))
  }

  test("mapColumnValuesAny recodes non-string types like the reference dict") {
    val ints = df("x INT", Seq(1), Seq(2), Seq(9))
    val out = DataFrameOps.mapColumnValuesAny(
      ints, Map[Any, Any](1 -> 100, 2 -> 200), "x")
    assert(out.as[Int].collect().sorted.toSeq == Seq(9, 100, 200))
  }

  // --------------------------------------------------- filterOutValues
  test("filterOutValues excludes values, keepNulls controls null rows") {
    val d = df("x STRING", Seq("a"), Seq("b"), Seq(null))
    val kept = DataFrameOps.filterOutValues(d, "x", Seq("a"))
    assert(kept.collect().map(r => Option(r.getString(0))).toSet == Set(Some("b"), None))
    val dropped = DataFrameOps.filterOutValues(d, "x", Seq("a"), keepNulls = false)
    assert(dropped.collect().map(_.getString(0)).toSeq == Seq("b"))
    assertThrows[IllegalArgumentException](DataFrameOps.filterOutValues(d, "x", Nil))
  }

  // ----------------------------------------------------- smartCoalesce
  test("smartCoalesce returns a plan with >= 1 partition and same rows") {
    val d = spark.range(1000).toDF("id").repartition(8)
    val out = DataFrameOps.smartCoalesce(d, targetFileSizeMb = 1)
    assert(out.count() == 1000)
    assert(out.rdd.getNumPartitions >= 1)
  }

  // --------------------------------------------- selectFirstObs
  test("selectFirstObsAppearingInGroup picks earliest / latest per group") {
    val d = df("g STRING, dt INT, v STRING",
      Seq("a", 1, "early"), Seq("a", 2, "late"), Seq("b", 5, "only"))
    val earliest = DataFrameOps.selectFirstObsAppearingInGroup(d, Seq("g"), "dt", ascending = true)
    assertDfEqual(earliest.select("g", "v"),
      df("g STRING, v STRING", Seq("a", "early"), Seq("b", "only")))
    val latest = DataFrameOps.selectFirstObsAppearingInGroup(d, Seq("g"), "dt", ascending = false)
    assertDfEqual(latest.select("g", "v"),
      df("g STRING, v STRING", Seq("a", "late"), Seq("b", "only")))
  }

  // ------------------------------------------------- requireNoReserved
  test("requireNoReserved: every operator rejects each of its reserved columns") {
    import org.apache.spark.sql.DataFrame
    import graft.dedup.Dedup
    import graft.operators.RangeJoin
    import graft.similarity.Quantize
    import graft.streaming.Streaming
    import graft.text.{QualityRules, Relevance}
    val base = spark.range(3).selectExpr("id AS doc_id", "'a b c' AS text", "id",
      "1.0D AS score", "id AS k", "timestamp_seconds(id) AS ts", "1.0D AS v",
      "0.0D AS ls", "1.0D AS le", "array(1.0D, 2.0D) AS vec")
    val pairs = df("id_a BIGINT, id_b BIGINT", Seq(0L, 1L))
    val rights = spark.range(3).selectExpr("id AS rk", "timestamp_seconds(id) AS rts")
    val ranges = spark.range(3).selectExpr("0.0D AS lo", "1.0D AS hi")
    val intervals = spark.range(3).selectExpr("0.0D AS rs", "1.0D AS re")
    val table: Seq[(String, Seq[String], DataFrame => Any)] = Seq(
      ("tfIdf", Seq("__graft_n_docs"), Relevance.tfIdf(_, "doc_id", "text")),
      ("invertedIndex", Seq("__graft_max_df"),
        Relevance.invertedIndex(_, "doc_id", "text")),
      ("keepClusterRepresentatives", Seq("__cc_id", "__cluster", "__rep_rn", "cluster_id"),
        Dedup.keepClusterRepresentatives(_, pairs, "id", "score")),
      ("gopherFlags", Seq("__gf_sig"), QualityRules.gopherFlags(_, "text")),
      ("streamStreamJoin", Seq("__r_key", "__bin"),
        Streaming.streamStreamJoin(_, rights.withColumnRenamed("rk", "k"),
          "k", "ts", "rts", 60L)),
      ("rangeJoin", Seq("__row_id", "__bin"),
        RangeJoin.rangeJoin(_, "v", ranges, "lo", "hi", 10.0)),
      ("intervalJoin", Seq("__bin"),
        RangeJoin.intervalJoin(_, "ls", "le", intervals, "rs", "re", 10.0)),
      ("quantizeInt8", Seq("__quant_dv"), Quantize.quantizeInt8(_, "vec")))
    for ((op, names, call) <- table; name <- names) {
      val e = intercept[IllegalArgumentException](call(base.withColumn(name, lit(1))))
      assert(e.getMessage.contains(s"$op: column name") &&
        names.forall(e.getMessage.contains), s"$op / $name: ${e.getMessage}")
    }
  }
}
