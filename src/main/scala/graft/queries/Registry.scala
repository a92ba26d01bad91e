package graft.queries

import graft.core.Sizing

/** All declared queries, keyed by name. Each family object contributes a Seq[Q];
  * `SparkEntry` exposes the union to the driver's Verify/Bench harness. */
object Registry {
  def families: Seq[Seq[Q]] = Seq(
    ScanFilter.qs,
    Aggregates.qs,
    WindowQs.qs,
    SetOps.qs,
    Joins.qs,
    Explodes.qs,
    Scalars.qs,
    FlagQs.qs,
    IdentityQs.qs,
    DedupQs.qs,
    SimilarityQs.qs,
    TextQs.qs,
    PrivacyQs.qs,
    MultimodalQs.qs,
    StreamQs.qs,
    Dashboard.qs,
    CustomerMaster.qs,
    ConversionFunnel.qs,
    FamilyEdges.qs,
    Experiments.qs,
    DataQuestions.qs,
    MlQs.qs,
    Reports.qs,
    EventsTable.qs)

  /** The queries as declared: each runs in whatever execution mode the
    * session it is given is in. */
  lazy val declared: Seq[Q] = {
    val qs = families.flatten
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(",")}")
    qs
  }

  /** The queries every caller runs: each call runs in the execution mode its
    * input directory calls for (`Sizing.mode`), scoped to that call. */
  lazy val all: Seq[Q] =
    declared.map(q => q.copy(run = (s, d) => q.run(Sizing.session(s, Sizing.mode(d)), d)))

  /** The query called `name` among [[all]]; throws `NoSuchElementException`
    * naming it when no such query is declared. */
  def named(name: String): Q = all.find(_.name == name).getOrElse(
    throw new NoSuchElementException(s"no query named $name is declared"))
}
