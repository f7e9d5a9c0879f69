package graft

package object bitemporal {
  /** A star view is a [[Matview]] with spokes; the alias keeps the star
    * builders' signatures. */
  type JoinMatview = Matview
}
