package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.constraint.ConstraintSet

/** Registry of compiled constraint sets — the batch analog of the
  * reference's validator cache (eventgate/lib/EventValidator.js:221-258).
  *
  * `routes` maps a stream/URI value to a set version the way the AJV cache
  * maps BOTH the request URI and the schema's `$id` to one compiled
  * validator (dual-key cache, asserted at
  * eventgate/test/features/lib/EventValidator.js:130-146): many route
  * keys may point at the same compiled set, and two sets with different
  * versions coexist without conflict
  * (eventgate/test/features/lib/EventValidator.js:187-208).
  *
  * Route-key grammar follows the reference's stream-config semantics
  * (eventgate/lib/event-util.js:89-97): a key wrapped in slashes
  * (`/^mediawiki\..+/`) is a regex tested unanchored; anything else is an
  * exact key. Exact beats regex; regexes match in deterministic order
  * (explicit `regexRoutes` first, in declaration order, then slash-wrapped
  * `routes` keys sorted). `baseUris`/`uriExtension` give the
  * uriGetFirstObject fallback chain
  * (eventgate/lib/factories/default-eventgate.js:167-189): an
  * unrouted subject is resolved against each base (+extension when missing)
  * and the first registered candidate wins.
  */
final case class ConstraintRegistry(
    sets: Seq[ConstraintSet],
    routes: Map[String, String],
    regexRoutes: Seq[(String, String)] = Nil,
    baseUris: Seq[String] = Nil,
    uriExtension: String = ""
) {
  val byVersion: Map[String, ConstraintSet] = sets.map(cs => cs.version -> cs).toMap
  require(byVersion.size == sets.size, "duplicate constraint-set versions in registry")

  /** Exact-match routes (non-slash-wrapped keys). */
  val exactRoutes: Map[String, String] = routes.filterNot { case (k, _) => ConstraintRegistry.isRegexKey(k) }

  /** Ordered regex routes: explicit ones first, then slash-wrapped `routes`
    * keys (sorted for determinism — Map iteration order is unspecified).
    *
    * DELIBERATE ordering divergence from the reference: stream-config tests
    * regex routes in DECLARATION order, which a Scala `Map` cannot carry —
    * slash-wrapped `routes` keys are therefore ordered lexicographically.
    * A config whose regexes overlap (first-match-sensitive) must pass them
    * through `regexRoutes`, which IS declaration-ordered end-to-end and
    * always consulted before the map-sourced keys.
    */
  val allRegexRoutes: Seq[(String, String)] =
    regexRoutes ++ routes.collect { case (k, v) if ConstraintRegistry.isRegexKey(k) => (k.substring(1, k.length - 1), v) }.toSeq.sorted

  require(
    (exactRoutes.values ++ allRegexRoutes.map(_._2)).forall(byVersion.contains), {
      val bad = (exactRoutes.values ++ allRegexRoutes.map(_._2)).filterNot(byVersion.contains).toSet
      s"routes point at unregistered versions: $bad"
    }
  )

  /** Shared row-level resolver ([[resolve]] + codegen'd [[graft.functions.StreamRoute]]). */
  lazy val resolver: graft.functions.StreamRouteResolver =
    new graft.functions.StreamRouteResolver(exactRoutes, allRegexRoutes, baseUris, uriExtension)

  def resolve(stream: String): Option[ConstraintSet] =
    Option(resolver.resolveString(stream)).map(byVersion)
}

object ConstraintRegistry {
  /** A slash-wrapped route key (`/regex/`) names a regex route. */
  private def isRegexKey(k: String) = k.length >= 2 && k.startsWith("/") && k.endsWith("/")

  /** Register sets routable by their own version ids (URI = `$id` case). */
  def of(sets: ConstraintSet*): ConstraintRegistry =
    ConstraintRegistry(sets, sets.map(cs => cs.version -> cs.version).toMap)

  /** DECLARATION-ORDERED registry — full reference parity for overlapping
    * regex routes: stream-config tests regexes in declaration order
    * (eventgate/lib/event-util.js:89-97 over
    * test/schemas/stream-config.test.yaml), which a Scala `Map` cannot
    * carry (the case-class constructor therefore orders slash-keys
    * lexicographically, documented divergence). This factory keeps every
    * slash-wrapped key exactly where it was declared in `routes` — the
    * first matching regex wins, as in the reference.
    */
  def ordered(
      sets: Seq[ConstraintSet],
      routes: Seq[(String, String)],
      baseUris: Seq[String] = Nil,
      uriExtension: String = ""
  ): ConstraintRegistry = {
    val (regex, exact) = routes.partition { case (k, _) => isRegexKey(k) }
    require(exact.map(_._1).distinct.size == exact.size,
      s"duplicate exact route keys: ${exact.map(_._1).diff(exact.map(_._1).distinct).distinct}")
    ConstraintRegistry(sets, exact.toMap,
      regex.map { case (k, v) => (k.substring(1, k.length - 1), v) }, baseUris, uriExtension)
  }

  /** Stream-name extraction + sanitization parity
    * (eventgate/lib/factories/default-eventgate.js:132-152): prefer an
    * explicit stream field, else the schema URI with `[^A-Za-z0-9_.-]` → `_`
    * and leading underscores stripped.
    */
  def extractStream(streamField: Option[Column], schemaUri: Column): Column = {
    val sanitized =
      regexp_replace(regexp_replace(schemaUri, "[^A-Za-z0-9_.-]", "_"), "^_+", "")
    streamField.map(f => coalesce(f, sanitized)).getOrElse(sanitized)
  }
}
