package graft.model

import java.time.Duration

/** Core metadata model — the declarative layer that parameterizes the
  * engine's fixed dataflow operators.
  *
  * Reference shapes: Entity (sdk/python/feast/entity.py:36-50), Feature
  * (feature.py:25-41), FeatureView (feature_view.py:42-102),
  * FeatureService / FeatureViewProjection (feature_service.py:16-35,
  * feature_view_projection.py), FeatureRef parsing (feature.py:103-144).
  */
final case class Entity(
    name: String,
    dtype: GraftType,
    joinKeyOpt: Option[String] = None,
    description: String = "") {
  /** join_key defaults to the entity name (entity.py:44-46). */
  def joinKey: String = joinKeyOpt.getOrElse(name)
}

final case class Feature(name: String, dtype: GraftType, labels: Map[String, String] = Map.empty)

/** A logical feature table: entities + typed features + TTL + sources.
  * `ttl == Duration.ZERO` means "no lower time bound" in the
  * point-in-time join (reference bigquery.py:613-617 template behavior).
  */
final case class FeatureView(
    name: String,
    entities: Seq[String],
    features: Seq[Feature],
    ttl: Duration,
    batchSource: DataSource,
    streamSource: Option[DataSource] = None,
    online: Boolean = true,
    tags: Map[String, String] = Map.empty) {
  require(name.nonEmpty, "feature view name must be non-empty")
  // checked here, not per join route, so every route (and a registry
  // load) refuses it alike: on the declarative route a negative window
  // matches nothing and would read as all-null features
  require(!ttl.isNegative, s"feature view $name: ttl must be >= 0 (0 = unbounded), got $ttl")
  def featureNames: Seq[String] = features.map(_.name)

  /** Subset projection, the reference's FeatureView.__getitem__
    * (feature_view.py:114-122). */
  def select(featureNames: Seq[String]): FeatureViewProjection = {
    val unknown = featureNames.filterNot(features.map(_.name).contains)
    require(unknown.isEmpty, s"unknown features $unknown in view $name")
    FeatureViewProjection(name, featureNames)
  }
}

final case class FeatureViewProjection(viewName: String, features: Seq[String])

/** On-demand feature computed at RETRIEVAL time from the service's
  * projected features (+ entity columns): `sqlExpr` is a Spark SQL
  * expression over BARE feature names. The historical path appends it
  * as a Catalyst column (codegen'd with the retrieval plan — zero extra
  * passes); the online path evaluates it driver-side over a
  * LocalRelation (ConvertToLocalRelation folds the projection at
  * optimization time, so no Spark job touches the ms-latency read).
  * The reference gains this surface in later versions (on-demand
  * feature views); here it is the natural Spark-first extension. */
final case class DerivedFeature(name: String, sqlExpr: String)

/** Named group of projections — the serving API unit. */
final case class FeatureService(
    name: String,
    projections: Seq[FeatureViewProjection],
    tags: Map[String, String] = Map.empty,
    derived: Seq[DerivedFeature] = Nil) {
  def featureRefs: Seq[FeatureRef] =
    projections.flatMap(p => p.features.map(f => FeatureRef(p.viewName, f)))
}

/** "view:feature" string refs (reference feature.py:122-144). */
final case class FeatureRef(view: String, feature: String) {
  override def toString: String = s"$view:$feature"
}

object FeatureRef {
  def parse(s: String): FeatureRef = s.split(":", 2) match {
    case Array(v, f) if v.nonEmpty && f.nonEmpty => FeatureRef(v, f)
    case _ => throw new IllegalArgumentException(
      s"feature ref must be of the form view:feature, got '$s'")
  }

  /** Group refs per view preserving order (feature_store.py:660-681). */
  def groupByView(refs: Seq[FeatureRef]): Seq[(String, Seq[String])] =
    refs.groupBy(_.view).toSeq
      .map { case (v, rs) => v -> rs.map(_.feature) }
      .sortBy { case (v, _) => refs.indexWhere(_.view == v) }

  /** Reject duplicate output column names (feature_store.py:636-657):
    * with fullFeatureNames=false two views exposing the same feature name
    * collide. */
  def validateNoCollisions(refs: Seq[FeatureRef], fullFeatureNames: Boolean): Unit = {
    val names = if (fullFeatureNames) refs.map(r => s"${r.view}__${r.feature}")
                else refs.map(_.feature)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"duplicate output feature names ${dups.mkString(", ")}; " +
      "use fullFeatureNames=true to disambiguate")
  }
}
