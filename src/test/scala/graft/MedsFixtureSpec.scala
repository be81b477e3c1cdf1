package graft

import org.scalatest.funsuite.AnyFunSuite

/** MedsFixture's literal rows against the shape FIXTURES.md §4 documents,
  * in plain Scala (no Spark): an edit to the fixture that breaks a pinned
  * count fails here by name, not across the specs that read the fixture.
  */
class MedsFixtureSpec extends AnyFunSuite {
  import MedsFixture._

  private val bySubject = events.groupBy(_.subjectId)

  test("fixture shards hold the documented subjects and row counts") {
    val shards = events.groupBy(_.shard)
    assert(shards.map { case (s, es) => s -> es.size } ==
      Map("train/0" -> 30, "train/1" -> 14, "tuning/0" -> 7, "held_out/0" -> 11))
    assert(shards.map { case (s, es) => s -> es.map(_.subjectId).toSet } == Map(
      "train/0" -> Set(239684L, 1195293L), "train/1" -> Set(68729L, 814703L),
      "tuning/0" -> Set(754281L), "held_out/0" -> Set(1500733L)))
    assert(splits.size == 6 && splits.map(_._1).toSet == bySubject.keySet)
  }

  test("min_events_per_subject=5 keeps 3 subjects and 41 rows (a null time is one event)") {
    val survivors = bySubject.filter { case (_, es) => es.map(_.time).distinct.size >= 5 }
    assert(survivors.keySet == Set(239684L, 1195293L, 1500733L))
    assert(survivors.values.map(_.size).sum == 41)
  }

  test("codes: documented vocabulary, DOB birth rows, train covers the other splits") {
    assert(events.map(_.code).toSet == Set("DOB", "EYE_COLOR//BROWN", "EYE_COLOR//BLUE",
      "EYE_COLOR//HAZEL", "HEIGHT", "ADMISSION//CARDIAC", "ADMISSION//PULMONARY",
      "ADMISSION//ORTHOPEDIC", "HR", "TEMP", "DISCHARGE"))
    val trainCodes = events.filter(_.split == "train").map(_.code).toSet
    assert(events.map(_.code).toSet.subsetOf(trainCodes))
    assert(events.filter(e => e.code == "HR" || e.code == "TEMP").forall(_.value.isDefined))
    bySubject.foreach { case (s, es) =>
      val dob = es.filter(_.code == "DOB")
      assert(dob.size == 1 && dob.head.time.isDefined, s"subject $s: one timed DOB row")
      assert(es.flatMap(_.time).forall(_ >= dob.head.time.get),
        s"subject $s: DOB precedes its timed events")
    }
    // rows sorted by (subject_id, time) within each shard, static rows first
    events.groupBy(_.shard).foreach { case (shard, es) =>
      val keys = es.map(e => (e.subjectId, e.time.getOrElse("")))
      assert(keys == keys.sorted, s"$shard is not sorted by (subject_id, time)")
    }
  }
}
