package graft

/** Tag for soak-style tests (long-horizon composed loops, one run of
  * every `graft.Soak` suite). They run in the default `sbt test`;
  * `-n graft.Soak` selects only them, `-l graft.Soak` leaves them out.
  */
object SoakTag extends org.scalatest.Tag("graft.Soak")
