package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.suite.{Constraint, FieldConstraint, Suite}
import graft.suite.Constraint._
import graft.compilex.ConstraintCompiler
import graft.gen.TokenData

/** Per-operator unit + property tests of the constraint compiler and the
  * generator's injected-violation coordinates (FIXTURES.md).
  */
class CompilerSpec extends SparkSpec {

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), p)
    assert(res.passed, res.status.toString)
  }

  test("uniqueItems property: engine == scala distinct semantics") {
    import spark.implicits._
    val arrays = Gen.listOfN(200, Gen.listOf(Gen.chooseNum(0, 30))).sample.get
    val df = arrays.map(a => Tuple1(a)).toDF("v")
    val compiled = ConstraintCompiler.compile(FieldConstraint("u", "v", UniqueItems()))
    val got = df.select(compiled.pass).collect().map(_.getBoolean(0))
    val want = arrays.map(a => a.distinct.length == a.length)
    assert(got.toSeq == want)
  }

  test("items bounds property: engine forall == scala forall") {
    import spark.implicits._
    val arrays = Gen.listOfN(200, Gen.listOf(Gen.chooseNum(-10, 300))).sample.get
    val df = arrays.map(a => Tuple1(a)).toDF("v")
    val c = Items(AllOf(Seq(Minimum(0), Maximum(255))))
    val compiled = ConstraintCompiler.compile(FieldConstraint("i", "v", c))
    val got = df.select(compiled.pass).collect().map(_.getBoolean(0))
    val want = arrays.map(a => a.forall(t => t >= 0 && t <= 255))
    assert(got.toSeq == want)
    // an array keyword over an element value: items of items over
    // array<array<int>> compiles through the same keyword table
    val nested = arrays.map(_.grouped(3).toList)
    val nestedPass = ConstraintCompiler.compile(FieldConstraint("n", "v", Items(c))).pass
    assert(nested.map(a => Tuple1(a)).toDF("v").select(nestedPass).collect().map(_.getBoolean(0)).toSeq ==
      nested.map(_.forall(_.forall(t => t >= 0 && t <= 255))))
  }

  test("contains counting property") {
    import spark.implicits._
    val arrays = Gen.listOfN(120, Gen.listOf(Gen.chooseNum(0, 10))).sample.get
    val df = arrays.map(a => Tuple1(a)).toDF("v")
    val c = Contains(Minimum(5), min = 2, max = 4)
    val compiled = ConstraintCompiler.compile(FieldConstraint("c", "v", c))
    val got = df.select(compiled.pass).collect().map(_.getBoolean(0))
    val want = arrays.map { a => val n = a.count(_ >= 5); n >= 2 && n <= 4 }
    assert(got.toSeq == want)
  }

  test("$ref inlining resolves chains and rejects cycles") {
    val s = Suite("t",
      Seq(FieldConstraint("a", "v", Ref("x"))),
      defs = Map("x" -> Ref("y"), "y" -> Minimum(3)))
    assert(s.resolved.constraints.head.constraint == Minimum(3))
    val cyc = Suite("t", Seq(FieldConstraint("a", "v", Ref("x"))),
      defs = Map("x" -> Ref("y"), "y" -> Ref("x")))
    intercept[IllegalArgumentException](cyc.resolved)
    val missing = Suite("t", Seq(FieldConstraint("a", "v", Ref("nope"))))
    intercept[IllegalArgumentException](missing.resolved)
    // a JSON-pointer $ref resolves from the DOCUMENT ROOT: nested $defs
    // at a non-root level are not reachable via "#/$defs/..." — the
    // reference raises PointerToNowhere here, and so must the loader
    // (a lexical-scope fallback used to silently resolve it; fuzzing
    // the reference surfaced the divergence)
    intercept[IllegalArgumentException](graft.suite.SuiteLoader.parseSchema(
      """{"allOf": [{"$defs": {"d": {"minimum": 10}}, "$ref": "#/$defs/d"}]}"""))
  }

  test("compiler extension registry overrides element compilation") {
    import spark.implicits._
    case object Even extends Constraint.Custom
    ConstraintCompiler.extensions = { case Even => (e) => pmod(e, lit(2)) === lit(0) }
    try {
      val df = Seq(Tuple1(Seq(2, 4)), Tuple1(Seq(2, 3))).toDF("v")
      val compiled = ConstraintCompiler.compile(FieldConstraint("e", "v", Items(Even)))
      assert(df.select(compiled.pass).collect().map(_.getBoolean(0)).toSeq == Seq(true, false))
      // the same registry compiles a field value: one keyword table
      val ints = Seq(2, 3, 4).toDF("n")
      val field = ConstraintCompiler.compile(FieldConstraint("f", "n", Even))
      assert(ints.select(field.pass).collect().map(_.getBoolean(0)).toSeq == Seq(true, false, true))
    } finally ConstraintCompiler.extensions = PartialFunction.empty
  }

  test("fused TokenStats path == generic path on random arrays (incl. empty/dups/negatives)") {
    import spark.implicits._
    val arrays = Gen.listOfN(300, Gen.listOf(Gen.chooseNum(-3, 40))).sample.get ++
      Seq(Nil, List(0, 0), List(0), List(-5, 262144), List(300000))
    val df = arrays.map(a => Tuple1(a)).toDF("tokens").withColumn("n_tok", size(col("tokens")))
    val cons = Seq(
      FieldConstraint("imin", "tokens", Items(Minimum(0))),
      FieldConstraint("imax", "tokens", Items(Maximum(30))),
      FieldConstraint("uniq", "tokens", UniqueItems()),
      FieldConstraint("mini", "tokens", MinItems(1)),
      FieldConstraint("eqs", "n_tok", EqSizeOf("tokens")))
    val s = graft.suite.Suite("fuse-test", cons)
    val generic = df.select(ConstraintCompiler.checksColumn(s).as("c")).collect()
    val fused = ConstraintCompiler.withProfiles(df, Set("tokens")).select(ConstraintCompiler.checksColumn(s, Set("tokens")).as("c")).collect()
    generic.zip(fused).zipWithIndex.foreach { case ((g, fz), i) =>
      val gp = g.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getBoolean(1)))
      val fp = fz.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getBoolean(1)))
      assert(gp == fp, s"row $i (${arrays(i)}): generic=$gp fused=$fp")
    }
  }

  test("fused path == generic path on NULLABLE-element arrays (null-aware TokenStats)") {
    // round-3 ADVICE (medium): getInt on a null slot reads raw 0, which
    // used to fold phantom zeros into tmin/tmax and collide null with a
    // literal 0 in the duplicate set. The null-aware loop must match
    // the generic null-gated element semantics exactly — including the
    // adversarial shapes: [null,0] (no dup), [null,null] (one dup),
    // all-null (passes every bound), null below the minimum.
    import spark.implicits._
    val arrays: Seq[List[Option[Int]]] =
      Gen.listOfN(200, Gen.listOf(Gen.option(Gen.chooseNum(-3, 40)))).sample.get ++
        Seq(List(None, Some(0)), List(None, None), List(None), List(None, None, None),
          List(Some(-5), None), Nil, List(Some(0), None, Some(0)))
    val df = arrays.map(a => Tuple1(a)).toDF("tokens").withColumn("n_tok", size(col("tokens")))
    assert(df.schema("tokens").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = true))
    val cons = Seq(
      FieldConstraint("imin", "tokens", Items(Minimum(0))),
      FieldConstraint("imax", "tokens", Items(Maximum(30))),
      FieldConstraint("uniq", "tokens", UniqueItems()),
      FieldConstraint("mini", "tokens", MinItems(1)),
      FieldConstraint("maxi", "tokens", MaxItems(5)))
    val s = graft.suite.Suite("fuse-null-test", cons)
    val generic = df.select(ConstraintCompiler.checksColumn(s).as("c")).collect()
    val fused = ConstraintCompiler.withProfiles(df, Set("tokens")).select(ConstraintCompiler.checksColumn(s, Set("tokens")).as("c")).collect()
    generic.zip(fused).zipWithIndex.foreach { case ((g, fz), i) =>
      val gp = g.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getBoolean(1)))
      val fp = fz.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getBoolean(1)))
      assert(gp == fp, s"row $i (${arrays(i)}): generic=$gp fused=$fp")
    }
  }

  test("TokenStats dups == size - size(array_distinct)") {
    import spark.implicits._
    val arrays = Gen.listOfN(300, Gen.listOf(Gen.chooseNum(0, 15))).sample.get
    val df = arrays.map(a => Tuple1(a)).toDF("tokens")
    val got = df.select(graft.functions.TokenStats.token_stats(col("tokens"))("dups")).collect()
      .map(_.getInt(0))
    val want = arrays.map(a => a.length - a.distinct.length)
    assert(got.toSeq == want)
  }

  test("strict-schema mode rejects undeclared columns and missing fields") {
    val suite = graft.suite.NorthStar.suite
    val declared = Seq("doc_id", "tokens", "n_tok", "source")
    assert(suite.checkSchema(declared, declared).isRight)
    assert(suite.checkSchema(declared :+ "rogue", declared).isLeft)   // additionalProperties
    assert(suite.checkSchema(declared.tail, declared.tail).isLeft)    // required field absent
  }

  test("golden loader handles format and prefixItems keywords") {
    import graft.suite.{SuiteLoader, Constraint}
    val c = SuiteLoader.parseSchema("""{"format":"uuid"}""")
    assert(c == Constraint.Format("uuid"))
    val p = SuiteLoader.parseSchema("""{"prefixItems":[{"minimum":1},{"maximum":2}]}""")
    assert(p == Constraint.PrefixItems(Seq(Constraint.Minimum(1.0), Constraint.Maximum(2.0))))
  }

  test("generator injects violations at exactly the FIXTURES coordinates") {
    val df = TokenData.tokenTable(spark, 4000, 4)
    val suite = graft.suite.NorthStar.suite
    val v = ConstraintCompiler.violations(df, suite)
      .groupBy("constraint_id").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(v("tokens.items.minimum") == 4)   // k=0: rows 0,1000,2000,3000
    assert(v("tokens.items.maximum") == 4)   // k=1
    assert(v("n_tok.eq.size") == 4)          // k=3
    assert(v("source.enum") == 4)            // k=4
    assert(v("doc_id.minLength") == 4)       // k=5
    assert(v("tokens.minItems") == 4)        // k=6
    assert(v("tokens.uniqueItems") >= 4)     // k=7 + natural collisions
    assert(!v.contains("doc_id.required"))
  }

  test("single-pass plan: all constraints evaluate in one scan (no shuffle before projection)") {
    val df = TokenData.tokenTable(spark, 100, 2)
    val checked = df.select(ConstraintCompiler.checksColumn(graft.suite.NorthStar.suite).as("checks"))
    val plan = checked.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"constraint projection must be shuffle-free:\n$plan")
  }

  test("violation explode emits (doc_id, constraint_id, observed, source)") {
    val df = TokenData.tokenTable(spark, 2000, 2)
    val rows = ConstraintCompiler.violations(df, graft.suite.NorthStar.suite)
      .filter(col("constraint_id") === "tokens.items.minimum").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("observed") == "-5"))
  }

  test("violations carry reference-fidelity fields (json_path, schema_path, message)") {
    val df = TokenData.tokenTable(spark, 2000, 2)
    val rows = ConstraintCompiler.violations(df, graft.suite.NorthStar.suite)
      .filter(col("constraint_id") === "tokens.items.minimum").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("json_path") == "$.tokens")
      assert(r.getAs[String]("schema_path") == "#/properties/tokens/items/minimum")
      assert(r.getAs[String]("message") ==
        "tokens.items.minimum failed at $.tokens: observed -5")
    }
  }

  test("spec-derived format checkers accept/reject canonical cases") {
    import spark.implicits._
    // formats the reference env does NOT enforce (no extra packages):
    // checker behavior pinned here against RFC-derived cases instead
    val cases: Seq[(String, String, Boolean)] = Seq(
      ("duration", "P3Y6M4DT12H30M5S", true), ("duration", "P4W", true),
      ("duration", "PT20M", true),
      ("duration", "P", false), ("duration", "P4W1D", false), ("duration", "PT", false),
      ("uri-reference", "/relative/path?q=1#frag", true),
      ("uri-reference", "https://example.com/a%20b", true),
      ("uri-reference", "has space", false), ("uri-reference", "100%", false),
      ("iri", "https://example.test/path", true), ("iri", "not a uri", false),
      ("iri-reference", "/path/to/thing", true), ("iri-reference", "back\\slash", false),
      ("uri-template", "http://x.com/{id}", true),
      ("uri-template", "{/path*}/here{?q,lang:5}", true),
      ("uri-template", "{unclosed", false), ("uri-template", "{bad space}", false),
      ("hostname", "a-b.example.com", true), ("hostname", "-bad", false),
      ("uri", "https://example.com/x", true), ("uri", "example.com", false))
    cases.groupBy(_._1).foreach { case (fmt, cs) =>
      val sub = cs.map(c => (c._2, c._3)).toDF("value", "expect")
      sub.select(col("value"), col("expect"),
          ConstraintCompiler.formatPred(fmt, col("value")).as("got"))
        .collect().foreach { r =>
          assert(r.getBoolean(1) == r.getBoolean(2),
            s"format $fmt on '${r.getString(0)}': expected ${r.getBoolean(1)}")
        }
    }
  }

  test("unicode iri forms accepted by iri/iri-reference checkers") {
    import spark.implicits._
    val df = Seq("https://例え.test/パス").toDF("v")
    assert(df.select(ConstraintCompiler.formatPred("iri", col("v"))).head().getBoolean(0))
    val rf = Seq("/パス/to/x").toDF("v")
    assert(rf.select(ConstraintCompiler.formatPred("iri-reference", col("v"))).head().getBoolean(0))
  }

  test("fused fractional bounds agree with the generic path (no int truncation)") {
    import spark.implicits._
    import graft.suite.{Constraint, FieldConstraint}
    val df = Seq(Seq(2), Seq(3), Seq(7), Seq(8)).toDF("tokens")
    val fcs = Seq(
      FieldConstraint("min2_5", "tokens", Constraint.Items(Constraint.Minimum(2.5))),
      FieldConstraint("exclMax7_5", "tokens", Constraint.Items(Constraint.Maximum(7.5, exclusive = true))))
    fcs.foreach { fc =>
      val generic = ConstraintCompiler.compile(fc, Set.empty)
      val fused = ConstraintCompiler.compile(fc, Set("tokens"))
      val rows = ConstraintCompiler.withProfiles(df, Set("tokens"))
        .select(generic.pass.as("g"), fused.pass.as("f")).collect()
      rows.foreach(r => assert(r.getBoolean(0) === r.getBoolean(1), s"${fc.id}: $r"))
    }
    // and the values themselves: 2 must FAIL minimum 2.5, 7 must PASS exclusive 7.5
    val g = ConstraintCompiler.compile(fcs.head, Set.empty)
    val got = df.select(col("tokens"), g.pass).collect()
      .map(r => r.getSeq[Int](0).head -> r.getBoolean(1)).toMap
    assert(!got(2) && got(3))
  }

  test("typed Dataset face: validSeqs/violationSeqs/partitionVerdicts agree with the DataFrame surface") {
    import graft.model.{TokenSeq, Violation}
    import graft.run.TypedValidate
    import graft.suite.NorthStar
    implicit val enc: org.apache.spark.sql.Encoder[TokenSeq] =
      org.apache.spark.sql.Encoders.product[TokenSeq]
    val dir = "/root/testdata/sf0.001"
    val ds = TokenData.read(spark, dir)
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source")).as[TokenSeq]
    val total = ds.count()
    val valid = TypedValidate.validSeqs(ds, NorthStar.suite)
    // typed round-trip: the filter output is usable as case classes
    val sample: Array[TokenSeq] = valid.head(3)
    assert(sample.forall(t => t.n_tok == t.tokens.length),
      "valid rows must satisfy n_tok.eq.size by construction")
    val nValid = valid.count()
    val dfInvalid = ConstraintCompiler
      .withVerdicts(TokenData.read(spark, dir), NorthStar.suite, Set("tokens"))
      .filter(!col("row_valid")).count()
    assert(nValid + dfInvalid === total, "typed filter must partition the table exactly")
    // violations agree with the untyped stream row-for-row
    val vs: org.apache.spark.sql.Dataset[Violation] = TypedValidate.violationSeqs(ds, NorthStar.suite)
    val untyped = ConstraintCompiler.violations(
      TokenData.read(spark, dir), NorthStar.suite, fusedIntArrays = Set("tokens"))
      .select(col("doc_id"), col("constraint_id"), col("observed"), col("source"))
    assert(vs.count() === untyped.count())
    // partition verdicts: pass iff zero violations, totals add up
    val pv = TypedValidate.partitionVerdicts(ds, NorthStar.suite).collect()
    assert(pv.map(_.rows).sum === total)
    pv.foreach(v => assert(v.pass === (v.violations == 0L)))
  }
}
