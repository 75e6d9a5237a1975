package graft.enrich

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** X24/J7: byte parity of the address cleaner against CPython-generated
  * goldens (tools/gen_geo_goldens.py — stdlib `re` reimplementation of
  * geocoder.py:45-94), plus cache-join enrichment semantics and the
  * miss -> stub-resolve -> merge round trip.
  */
class GeoSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-geo-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def unesc(s: String): String =
    s.replace("\\t", "\t").replace("\\n", "\n").replace("\\\\", "\\")

  test("address cleaner matches the CPython regex chain byte-for-byte") {
    import spark.implicits._
    val src = Source.fromResource("graft/goldens/geo_clean.tsv")(scala.io.Codec.UTF8)
    val goldens = try src.getLines().toVector finally src.close()
    assert(goldens.size >= 30)
    val rows = goldens.map { line =>
      val Array(in, exp) = line.split("\t", -1).map(unesc).padTo(2, "")
      (in, exp)
    }
    val df = rows.toDF("addr", "expected")
      .withColumn("got", Geo.cleanAddress(col("addr")))
    val bad = df.filter(col("got") =!= col("expected")).collect()
    assert(bad.isEmpty, bad.take(5).map(r =>
      s"in=${r.getString(0)} exp=${r.getString(1)} got=${r.getString(2)}").mkString("\n"))
  }

  test("street-level fallback keeps the road, drops the house number") {
    import spark.implicits._
    val df = Seq("台南市中西區環河街62號", "台北市信義路五段7號", "無路名", "xyz")
      .toDF("clean").withColumn("s", Geo.streetFallback(col("clean")))
    val got = df.collect().map(_.getString(1))
    // CPython lazy .*? stops at the FIRST road token — quirks preserved
    assert(got(0) == "台南市中西區環河街")
    assert(got(1) == "台北市信義路")
    assert(got(2) == "無路")
    assert(got(3) == "")
  }

  test("Nominatim-shaped client replays the reference's fallback ladder from a capture") {
    val t = graft.net.RecordedTransport.fromResource("/fixtures/nominatim_ladder.json")
    val c = new NominatimClient(t, "http://localhost:8088/search")
    // full cleaned address returns no result -> street-level fallback hits
    // (geocoder.py:131-138: 台南市中西區環河街62號 -> 台南市中西區環河街)
    val r = c.resolve("台南市中西區環河街62號")
    assert(r.exists { case (lat, lon, disp) =>
      math.abs(lat - 22.9971205) < 1e-9 && math.abs(lon - 120.1966119) < 1e-9 &&
        disp.startsWith("環河街")
    }, r.toString)
    // a resolvable full address short-circuits the ladder (one call only)
    val r2 = c.resolve("高雄市左營區博愛二路777號")
    assert(r2.exists(_._1 == 22.6899512), r2.toString)
    assert(t.exhausted)
    // a request the capture never saw is a seam-shape regression -> throws
    intercept[IllegalStateException](t.send("GET", "http://elsewhere/", None))
  }

  test("Nominatim city/district fallback fires when no street token exists") {
    def u(q: String) = "http://localhost:8088/search?q=" +
      java.net.URLEncoder.encode(s"$q, Taiwan", "UTF-8").replace("+", "%20") +
      "&format=json&limit=1&addressdetails=1"
    val t = new graft.net.RecordedTransport(Seq(
      graft.net.RecordedExchange("GET", u("左營福利里"), Nil, 200, "[]"),
      graft.net.RecordedExchange("GET", u("高雄市左營區"), Nil, 200,
        """[{"lat": "22.6892", "lon": "120.2953", "display_name": "左營區, 高雄市, 臺灣"}]""")))
    val c = new NominatimClient(t, "http://localhost:8088/search")
    // no 路/街/巷/大道/段 token -> street fallback skipped -> city+district
    val r = c.resolve("左營福利里", city = Some("高雄市"), district = Some("左營區"))
    assert(r.exists(_._3 == "左營區, 高雄市, 臺灣"), r.toString)
    assert(t.exhausted)
  }

  test("resolveWith merges a recorded batch into the cache like the stub path") {
    import spark.implicits._
    val jobs = Seq(("j1", "台南市中西區環河街62號"), ("j2", "高雄市左營區博愛二路777號"))
      .toDF("id", "address")
    val cache = Seq.empty[(String, Double, Double, String)]
      .toDF("clean_addr", "lat", "lon", "display_name")
    val enriched = Geo.enrich(jobs, cache)
    val (due, deferred) = Geo.throttleMisses(Geo.misses(enriched), qps = 1.0, windowSeconds = 2.0)
    assert(due.count() == 2 && deferred.isEmpty)
    val t = graft.net.RecordedTransport.fromResource("/fixtures/nominatim_ladder.json")
    val resolved = Geo.resolveWith(due, new NominatimClient(t, "http://localhost:8088/search"))
    assert(resolved.count() == 2)
    // merged cache ends the miss queue — identical round trip to stubResolve
    val round2 = Geo.enrich(jobs, cache.unionByName(resolved))
    assert(Geo.misses(round2).isEmpty)
    assert(round2.filter(col("id") === "j2").collect()(0)
      .getAs[Double]("geo_lat") == 22.6899512)
  }

  test("cache join enriches hits, misses feed the stub and then resolve") {
    import spark.implicits._
    val jobs = Seq(
      ("j1", "台北市信義區信義路五段7號5樓"),   // cleans to cached key
      ("j2", "高雄市前鎮區中山二路2號"),         // miss
      ("j3", null.asInstanceOf[String]))          // null address
      .toDF("id", "address")
    val cache = Seq(("台北市信義區信義路五段7號", 25.033, 121.5654, "Taipei 101, Taiwan"))
      .toDF("clean_addr", "lat", "lon", "display_name")

    val enriched = Geo.enrich(jobs, cache).cache()
    val hit = enriched.filter(col("id") === "j1").collect()(0)
    assert(hit.getAs[Double]("geo_lat") == 25.033)
    assert(enriched.filter(col("id") === "j2" && col("geo_lat").isNull).count() == 1)

    // broadcast join (cache is the dim side)
    val plan = enriched.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))

    // miss queue -> stub resolve -> merged cache -> no misses left
    val queue = Geo.misses(enriched)
    assert(queue.count() == 1)
    val resolved = Geo.stubResolve(queue)
    assert(resolved.filter(col("lat") < 21.9 || col("lat") > 26.0).isEmpty)
    val round2 = Geo.enrich(jobs, cache.unionByName(resolved))
    assert(Geo.misses(round2).isEmpty)
    // determinism: stub coordinates are a pure function of the query
    assert(Geo.stubResolve(queue).exceptAll(resolved).isEmpty)
    enriched.unpersist()
  }
}
