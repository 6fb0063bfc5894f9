package graft

/** Driver-contract invariants: names unique, oracles keyed to queries,
  * flagship entry non-empty at the smoke scale.
  */
class SparkEntrySpec extends SparkSpec {

  test("registry names are unique and well-formed") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.forall(_.matches("[a-z][a-z0-9_]+")))
  }

  test("every oracle key is a query key") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
    // the dumped surface is the whole registry, and on that surface
    // every query carries an oracle: the correctness report is 100%
    // hash-checked by construction
    assert(qs.size == Registry.all.size)
    assert(SparkEntry.oracleSql.keySet == qs)
  }

  test("flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracled queries emit only canonicaliser-hashable columns") {
    // Mirrors Verify's runtime lint: the driver's pandas compare cannot
    // row-sort array/map/struct columns (round-5 t_inverted_index
    // postmortem) — every oracled query must publish scalars only.
    val offenders = Registry.all
      .filter(q => q.oracle.isDefined)
      .flatMap { q =>
        val complex = q.run(spark, sf("sf0.001")).schema.fields
          .collect { case f if Verify.isUnhashable(f.dataType) => f.name }
        if (complex.isEmpty) None else Some(s"${q.name}(${complex.mkString(",")})")
      }
    assert(offenders.isEmpty, s"unhashable oracled outputs: $offenders")
  }

  test("every query runs and returns rows at sf0.001") {
    val empties = Registry.all.flatMap { q =>
      val n = q.run(spark, sf("sf0.001")).count()
      if (n == 0) Some(q.name) else None
    }
    assert(empties.isEmpty || empties == Seq("o2_except"),
      s"unexpected empty results: $empties")
  }
}
