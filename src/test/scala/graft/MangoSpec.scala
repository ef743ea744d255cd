package graft

import graft.ops.Mango
import graft.ops.Mango.MangoException

class MangoSpec extends SparkSpec {
  import spark.implicits._

  lazy val df = Seq(
    ("a", 10.0, true, "red"),
    ("b", 20.0, false, "blue"),
    ("c", 30.0, true, "green"),
    ("d", 40.0, false, "red")
  ).toDF("id", "age", "verified", "colour")

  def ids(sel: String): Seq[String] =
    df.where(Mango.compile(sel)).select("id").collect().map(_.getString(0)).sorted.toSeq

  test("implicit $eq") { assert(ids("""{"colour":"red"}""") == Seq("a", "d")) }
  test("$gt / $lte") {
    assert(ids("""{"age":{"$gt":20}}""") == Seq("c", "d"))
    assert(ids("""{"age":{"$lte":20}}""") == Seq("a", "b"))
  }
  test("$ne bool") { assert(ids("""{"verified":{"$ne":true}}""") == Seq("b", "d")) }
  test("$and of fields (implicit)") {
    assert(ids("""{"colour":"red","verified":false}""") == Seq("d"))
  }
  test("$or") {
    assert(ids("""{"$or":[{"colour":"blue"},{"age":{"$gte":40}}]}""") == Seq("b", "d"))
  }
  test("$in / $nin") {
    assert(ids("""{"colour":{"$in":["red","blue"]}}""") == Seq("a", "b", "d"))
    assert(ids("""{"colour":{"$nin":["red","blue"]}}""") == Seq("c"))
  }
  test("$regex") { assert(ids("""{"colour":{"$regex":"^(r|g)"}}""") == Seq("a", "c", "d")) }
  test("$exists") { assert(ids("""{"age":{"$exists":true}}""") == Seq("a", "b", "c", "d")) }
  test("range combo $gte+$lt on one field") {
    assert(ids("""{"age":{"$gte":20,"$lt":40}}""") == Seq("b", "c"))
  }
  test("invalid JSON rejected (index.js:202-208)") {
    intercept[MangoException](Mango.compile("{nope"))
  }
  test("nested selector wrapper rejected (index.js:209-214)") {
    intercept[MangoException](Mango.compile("""{"selector":{"a":1}}"""))
  }

  test("Column compiler and document evaluator agree on every selector") {
    import graft.ops.Mango
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    val docs = Seq(
      """{"id":"a","age":10,"verified":true,"colour":"red"}""",
      """{"id":"b","age":20,"verified":false,"colour":"blue"}""",
      """{"id":"c","age":30,"verified":true,"colour":"green"}""",
      """{"id":"d","age":40,"verified":false,"colour":"red"}""",
      """{"id":"e","verified":true,"colour":"red"}""" // missing age
    )
    val selectors = Seq(
      """{"colour":"red"}""",
      """{"age":{"$gt":15}}""",
      """{"age":{"$gte":20,"$lt":40}}""",
      """{"verified":{"$ne":true}}""",
      """{"$or":[{"colour":"blue"},{"age":{"$gte":40}}]}""",
      """{"colour":{"$in":["red","green"]},"verified":true}""",
      """{"age":{"$exists":false}}""",
      """{"colour":{"$regex":"^(r|g)"}}""",
      """{"$nor":[{"colour":"red"},{"colour":"blue"}]}"""
    )
    val df = spark.read.json(
      { import spark.implicits._; docs.toDS() })
    selectors.foreach { sel =>
      val viaColumn = df.where(Mango.compile(sel))
        .select("id").collect().map(_.getString(0)).toSet
      val parsed = Mango.parse(sel)
      val viaDoc = docs.map(mapper.readTree)
        .filter(Mango.evalDoc(parsed, _))
        .map(_.get("id").asText).toSet
      assert(viaColumn == viaDoc, s"selector $sel: column=$viaColumn doc=$viaDoc")
    }
  }

  test("array/type operators: $size $all $elemMatch $mod $type") {
    import graft.ops.Mango
    import spark.implicits._
    // warehouse storage form: arrays are JSON strings
    val adf = Seq(
      ("a", """["x","y","z"]""", 10L),
      ("b", """["x"]""", 15L),
      ("c", """[1,2,3]""", 21L)
    ).toDF("id", "tags", "n")
    def aids(sel: String) =
      adf.where(Mango.compile(sel)).select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(aids("""{"tags":{"$size":3}}""") == Seq("a", "c"))
    assert(aids("""{"tags":{"$all":["x","y"]}}""") == Seq("a"))
    assert(aids("""{"tags":{"$elemMatch":{"$eq":"x"}}}""") == Seq("a", "b"))
    assert(aids("""{"tags":{"$elemMatch":{"$gt":2}}}""") == Seq("c"))
    assert(aids("""{"n":{"$mod":[5,0]}}""") == Seq("a", "b"))
    assert(aids("""{"n":{"$type":"number"}}""") == Seq("a", "b", "c"))
    assert(aids("""{"tags":{"$type":"array"}}""") == Seq("a", "b", "c"))

    // document-side evaluator: full semantics incl. object elements
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def ev(sel: String, doc: String) =
      Mango.evalDoc(Mango.parse(sel), mapper.readTree(doc))
    assert(ev("""{"basket":{"$elemMatch":{"sku":"A1","qty":{"$gte":2}}}}""",
      """{"basket":[{"sku":"A1","qty":3},{"sku":"B2","qty":1}]}"""))
    assert(!ev("""{"basket":{"$elemMatch":{"sku":"A1","qty":{"$gte":5}}}}""",
      """{"basket":[{"sku":"A1","qty":3}]}"""))
    assert(ev("""{"tags":{"$size":2}}""", """{"tags":["a","b"]}"""))
    assert(ev("""{"n":{"$mod":[3,1]}}""", """{"n":7}"""))
    assert(ev("""{"meta":{"$type":"object"}}""", """{"meta":{"a":1}}"""))
  }

  test("$elemMatch object-element sub-selectors in Column position " +
       "(stringified array-of-objects storage, CouchDB same-element rule)") {
    import graft.ops.Mango
    import spark.implicits._
    // warehouse storage form (§1.2): array of objects as one JSON string
    val bdf = Seq(
      ("o1", """[{"sku":"A1","qty":3},{"sku":"B2","qty":1}]"""),
      ("o2", """[{"sku":"A1","qty":1},{"sku":"B2","qty":9}]"""),
      ("o3", """[{"sku":"C3","qty":5}]"""),
      ("o4", """["not-an-object",5]""")
    ).toDF("id", "basket")
    def bids(sel: String) =
      bdf.where(Mango.compile(sel)).select("id").collect().map(_.getString(0)).sorted.toSeq
    // both conditions must hold on the SAME element: o2 has A1 and a
    // qty>=2 element, but not on one element -> excluded
    assert(bids("""{"basket":{"$elemMatch":{"sku":"A1","qty":{"$gte":2}}}}""")
      == Seq("o1"))
    assert(bids("""{"basket":{"$elemMatch":{"qty":{"$gte":5}}}}""")
      == Seq("o2", "o3"))
    assert(bids("""{"basket":{"$elemMatch":{"sku":{"$in":["A1","C3"]}}}}""")
      == Seq("o1", "o2", "o3"))
    // nested combinators inside the sub-selector
    assert(bids("""{"basket":{"$elemMatch":{"$or":[{"sku":"C3"},{"qty":{"$gt":8}}]}}}""")
      == Seq("o2", "o3"))
    // Column compiler and document-side evaluator agree
    val mapper2 = new com.fasterxml.jackson.databind.ObjectMapper()
    val sel = """{"basket":{"$elemMatch":{"sku":"A1","qty":{"$gte":2}}}}"""
    val parsed = Mango.parse(sel)
    val docs = Seq(
      """{"basket":[{"sku":"A1","qty":3},{"sku":"B2","qty":1}]}""",
      """{"basket":[{"sku":"A1","qty":1},{"sku":"B2","qty":9}]}""",
      """{"basket":[{"sku":"C3","qty":5}]}""")
    assert(docs.map(d => Mango.evalDoc(parsed, mapper2.readTree(d)))
      == Seq(true, false, false))
  }

  test("$allMatch / $keyMapMatch / $beginsWith (CouchDB 2.3/3.x additions)") {
    import graft.ops.Mango
    import spark.implicits._
    val cdf = Seq(
      ("o1", """[{"qty":3},{"qty":7}]""", """{"primary":1}""", "alpha"),
      ("o2", """[{"qty":3},{"qty":1}]""", """{"primary":1,"secondary":2}""", "beta"),
      ("o3", """[]""", """{"backup":3}""", "alphabet"),
      ("o4", """[5,6]""", "{}", "gamma")
    ).toDF("id", "basket", "cameras", "name")
    def cids(sel: String) =
      cdf.where(Mango.compile(sel)).select("id").collect().map(_.getString(0)).sorted.toSeq

    // $allMatch: EVERY element matches; vacuously true on []; o2's qty=1 fails
    assert(cids("""{"basket":{"$allMatch":{"qty":{"$gte":2}}}}""") == Seq("o1", "o3"))
    // scalar-element form over a plain number array
    assert(cids("""{"basket":{"$allMatch":{"$gte":5}}}""") == Seq("o3", "o4"))
    // $keyMapMatch: ANY key of the object matches the condition
    assert(cids("""{"cameras":{"$keyMapMatch":{"$eq":"secondary"}}}""") == Seq("o2"))
    assert(cids("""{"cameras":{"$keyMapMatch":{"$regex":"^(primary|backup)$"}}}""")
      == Seq("o1", "o2", "o3"))
    // $beginsWith: string prefix
    assert(cids("""{"name":{"$beginsWith":"alpha"}}""") == Seq("o1", "o3"))

    // document-side evaluator agrees on all three
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def ev(sel: String, doc: String) =
      Mango.evalDoc(Mango.parse(sel), m.readTree(doc))
    assert(ev("""{"basket":{"$allMatch":{"qty":{"$gte":2}}}}""",
      """{"basket":[{"qty":3},{"qty":7}]}"""))
    assert(!ev("""{"basket":{"$allMatch":{"qty":{"$gte":2}}}}""",
      """{"basket":[{"qty":3},{"qty":1}]}"""))
    assert(ev("""{"basket":{"$allMatch":{"qty":{"$gte":2}}}}""", """{"basket":[]}"""))
    assert(!ev("""{"basket":{"$allMatch":{"qty":{"$gte":2}}}}""", """{"basket":5}"""))
    assert(ev("""{"cameras":{"$keyMapMatch":{"$eq":"secondary"}}}""",
      """{"cameras":{"primary":1,"secondary":2}}"""))
    assert(!ev("""{"cameras":{"$keyMapMatch":{"$eq":"secondary"}}}""",
      """{"cameras":{"primary":1}}"""))
    assert(!ev("""{"cameras":{"$keyMapMatch":{"$eq":"secondary"}}}""",
      """{"cameras":"not-an-object"}"""))
    assert(ev("""{"name":{"$beginsWith":"alpha"}}""", """{"name":"alphabet"}"""))
    assert(!ev("""{"name":{"$beginsWith":"alpha"}}""", """{"name":"beta"}"""))
    assert(!ev("""{"name":{"$beginsWith":"alpha"}}""", """{"name":42}"""))

    // negation interplay: $not over $allMatch selects the failing doc only
    assert(cids("""{"$not":{"basket":{"$allMatch":{"qty":{"$gte":2}}}}}""")
      == Seq("o2", "o4"))
  }

  test("multi-condition field $not negates the whole conjunction") {
    // !(age>20 && age<40): only c (30) satisfies both and is excluded;
    // negating only the FIRST condition ($gt) would wrongly exclude d (40)
    assert(ids("""{"age":{"$not":{"$gt":20,"$lt":40}}}""") == Seq("a", "b", "d"))
    // parity with the document-side evaluator
    val sel = Mango.parse("""{"age":{"$not":{"$gt":20,"$lt":40}}}""")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    def doc(age: Int) = mapper.readTree(s"""{"age":$age}""")
    assert(Mango.evalDoc(sel, doc(10)) && Mango.evalDoc(sel, doc(40))
      && !Mango.evalDoc(sel, doc(30)))
  }

  test("array-literal equality matches the stored JSON-string form") {
    import spark.implicits._
    val adf = Seq(("x", """["a","b"]"""), ("y", """["a"]"""), ("z", ""))
      .toDF("id", "tags")
    def aids(sel: String) =
      adf.where(Mango.compile(sel)).select("id")
        .collect().map(_.getString(0)).sorted.toSeq
    // Jackson compact text of the selector array equals to_json's output
    assert(aids("""{"tags":["a","b"]}""") == Seq("x"))
    // the old asText fallthrough compiled this to === "" and matched z
    assert(aids("""{"tags":{"$in":[["a"]]}}""") == Seq("y"))
    // evalDoc agrees: deep node equality
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    assert(Mango.evalDoc(Mango.parse("""{"tags":["a","b"]}"""),
      mapper.readTree("""{"tags":["a","b"]}""")))
    assert(!Mango.evalDoc(Mango.parse("""{"tags":["a","b"]}"""),
      mapper.readTree("""{"tags":["a"]}""")))
  }

  test("evalDoc: a dotted name addresses a subfield, \\. is a literal dot") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper
    def ok(sel: String) = Mango.evalDoc(Mango.parse(sel),
      m.readTree("""{"address":{"city":"x","geo":{"lat":1.5}},"tags":["a"],"a.b":2}"""))
    assert(ok("""{"address.city":"x"}"""))
    assert(!ok("""{"address.city":"y"}"""))
    assert(ok("""{"address.geo.lat":{"$gt":1}}"""))
    assert(ok("""{"address.zip":{"$exists":false}}"""))
    assert(!ok("""{"tags.a":{"$exists":true}}"""), "an array has no named subfields")
    assert(ok("""{"a\\.b":2}"""), "an escaped dot is part of the name")
    assert(!ok("""{"a.b":{"$exists":true}}"""), "an unescaped dot is a path step")
  }

  test("$type predicates survive CODEGEN_ONLY (functions.typeof 4.1.2 " +
       "codegen emits the type name unquoted and always falls back)") {
    import spark.implicits._
    val tdf = Seq(("a", 10L, "x"), ("b", 20L, "[1,2]")).toDF("id", "n", "s")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      def tids(sel: String) =
        tdf.where(graft.ops.Mango.compile(sel)).select("id")
          .collect().map(_.getString(0)).sorted.toSeq
      assert(tids("""{"n":{"$type":"number"}}""") == Seq("a", "b"))
      assert(tids("""{"s":{"$type":"array"}}""") == Seq("b"))
      assert(tids("""{"s":{"$type":"string"}}""") == Seq("a", "b"))
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }
}
