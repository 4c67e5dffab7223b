package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.sources.kv.{GraftFs, KVSource}
import graft.write.KVTable

/** Property-based model test (KeySpaceTest statistical-genre parity,
  * applied to storage semantics): random sequences of raw cells and
  * tombstone markers, resolved by KVTable and by the DSv2 resolved scan,
  * must match a naive in-memory HBase model.
  *
  * The generator reaches the edges of the resolve contract: NULL family
  * and qualifier coordinates, same-(key,family,qualifier,ts) cells with
  * different values (the tie-break is UTF-8 binary order with NULL
  * values last, so a supplementary-plane value beats a high-BMP one),
  * tombstones at the same ts as a cell, markers that are neither 'row'
  * nor 'family' (they mask at cell granularity), and as-of cutoffs.
  */
class KVModelSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private case class Op(key: Long, family: String, qualifier: String,
                        value: String, ts: Long, tomb: Option[String])

  private type Cell = (Long, String, String, String, Long)

  private val genOp: Gen[Op] = for {
    key <- Gen.choose(0L, 4L)
    fam <- Gen.frequency(4 -> Gen.const("F"), 4 -> Gen.const("T"),
      1 -> Gen.const(null: String))
    qual <- Gen.frequency(3 -> Gen.const("a"), 3 -> Gen.const("b"),
      1 -> Gen.const(null: String))
    // "～" sorts above the emoji in UTF-16 but below it in UTF-8
    value <- Gen.frequency(3 -> Gen.const("v"), 3 -> Gen.const("w"),
      1 -> Gen.const("～"), 1 -> Gen.const("😀"),
      1 -> Gen.const(null: String))
    ts <- Gen.choose(1L, 10L)
    tomb <- Gen.frequency(12 -> Gen.const(None),
      2 -> Gen.const(Some("cell")), 2 -> Gen.const(Some("family")),
      2 -> Gen.const(Some("row")), 1 -> Gen.const(Some("purge")))
  } yield Op(key, fam, qual, if (tomb.isEmpty) value else null, ts, tomb)

  private def ops(seed: Long, n: Int = 60): List[Op] =
    Gen.listOfN(n, genOp).pureApply(Gen.Parameters.default, Seed(seed))

  /** UTF-8 byte order, NULL smallest — written out independently of the
    * engine's own comparator. */
  private val utf8: Ordering[String] = Ordering.by((s: String) =>
    Option(s).map(_.getBytes(UTF_8).toSeq.map(_ & 0xff)))(
    Ordering.Option(Ordering.Implicits.seqOrdering[Seq, Int]))

  /** Naive reference model of HBase latest-wins + tombstone masking;
    * NULL coordinates compare equal to each other (Scala `==`). */
  private def model(ops: Seq[Op]): Set[Cell] = {
    def mask(hit: Op => Boolean): Long =
      ops.filter(o => o.tomb.isDefined && hit(o)).map(_.ts).maxOption
        .getOrElse(Long.MinValue)
    ops.filter(_.tomb.isEmpty)
      .groupBy(o => (o.key, o.family, o.qualifier))
      .flatMap { case ((k, f, q), cells) =>
        val latest = cells.max(Ordering.by((o: Op) => (o.ts, o.value))(
          Ordering.Tuple2(Ordering.Long, utf8)))
        val masked = List(
          mask(o => o.tomb.contains("row") && o.key == k),
          mask(o => o.tomb.contains("family") && o.key == k && o.family == f),
          mask(o => !o.tomb.exists(Set("row", "family")) && o.key == k &&
            o.family == f && o.qualifier == q)).max
        if (latest.ts > masked) Some((k, f, q, latest.value, latest.ts))
        else None
      }.toSet
  }

  /** Appends `batch` as raw cells (tombstone markers included) in up to
    * three parquet appends, so the log spans several files. */
  private def write(t: KVTable, batch: List[Op]): Unit =
    batch.grouped(math.max(1, (batch.size + 2) / 3)).foreach { part =>
      t.put(part.map(o => (o.key, o.family, o.qualifier, o.value, o.ts,
        o.tomb.orNull)).toDF("key", "family", "qualifier", "value", "ts", "tomb"))
    }

  private def resolvedCells(t: KVTable): Set[Cell] =
    t.resolved().as[Cell].collect().toSet

  /** The live view as the DSv2 resolved scan (KVResolvedPartitionReader)
    * returns it, read through SQL on the graft catalog: a no-op UPDATE
    * reads every live cell through that scan and appends it again with
    * ts auto-bumped to live+1, so the appended files ARE the scan's
    * output. Mutates the table, so it runs last. */
  private def resolvedViaSqlScan(t: KVTable): Set[Cell] = {
    val log = s"${t.path}/log"
    val before = GraftFs.dataFiles(log).map(_.path).toSet
    spark.sql(s"UPDATE ${KVSource.sqlName(spark, t.path)} SET value = value")
    val added = GraftFs.dataFiles(log).map(_.path).filterNot(before)
    if (added.isEmpty) Set.empty
    else spark.read.schema(KVTable.CELL_SCHEMA_DDL).parquet(added: _*)
      .select($"key", $"family", $"qualifier", $"value", $"ts" - 1)
      .as[Cell].collect().toSet
  }

  // checked three ways: KVTable.resolve, resolvedAsOf cutoffs and the
  // DSv2 resolved scan
  test("resolve matches the naive model on random op sequences") {
    for (seed <- 1 to 8) {
      val all = ops(seed.toLong)
      val t = KVTable(spark, targetPath(s"graft_kv_test/model_$seed"),
        wipe = true)
      write(t, all)
      assert(resolvedCells(t) === model(all), s"resolve, seed=$seed")
      for (v <- Seq(0L, 3L, 6L, 9L)) {
        val got = t.resolvedAsOf(v).as[Cell].collect().toSet
        assert(got === model(all.filter(_.ts <= v)),
          s"resolvedAsOf($v), seed=$seed")
      }
      assert(resolvedViaSqlScan(t) === model(all), s"SQL scan, seed=$seed")
    }
  }

  test("the generator reaches every edge case the model pins") {
    val all = (1 to 8).flatMap(s => ops(s.toLong))
    val cells = all.filter(_.tomb.isEmpty)
    assert(all.exists(_.family == null) && all.exists(_.qualifier == null))
    assert(cells.groupBy(o => (o.key, o.family, o.qualifier, o.ts))
      .values.exists(_.map(_.value).distinct.size > 1), "no same-ts value tie")
    assert(all.exists(o => o.tomb.isDefined && cells.exists(c =>
      c.key == o.key && c.ts == o.ts)), "no tombstone at a cell's ts")
    assert(all.exists(_.tomb.contains("purge")), "no non-standard marker")
  }

  test("a mid-sequence compaction never changes the resolved view " +
    "(random ops, random split)") {
    // Arrival order respects ts across the split (everything at or
    // below the threshold lands before the compaction, the rest after),
    // so no post-compaction cell carries a ts older than a compacted-
    // away tombstone — the one case where HBase major-compaction parity
    // legitimately resurrects (documented in resolvedAsOf's scaladoc)
    // and a log-only replay would diverge by design.
    for (seed <- 1 to 6) {
      val all = ops(1000L + seed)
      val cut = Gen.choose(1L, 10L)
        .pureApply(Gen.Parameters.default, Seed(2000L + seed))
      val t = KVTable(spark,
        targetPath(s"graft_kv_test/modelc_${seed}"), wipe = true)
      val (before, after) = all.partition(_.ts <= cut)
      write(t, before)
      t.compact(numBuckets = 4)
      write(t, after)
      assert(resolvedCells(t) === model(all),
        s"mismatch at seed=$seed cut=$cut (compacted ${before.size} ops)")
      // bucketed resolved scan: compacted generation + live log per bucket
      assert(resolvedViaSqlScan(t) === model(all),
        s"SQL scan mismatch at seed=$seed cut=$cut")
    }
  }
}
