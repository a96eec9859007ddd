package graft.streaming

/** SURVEY §7.5: the stateful queries must agree between their batch
  * (DataFrame) form and their streaming (MemoryStream replay) form. Each
  * case of the `parity` group ([[ParityCases]]) replays the sf0.001
  * tables through KeyFlow or KeyFlowTws, mostly with a replay overlap that
  * exercises the at-least-once offset guard, and must end in the batch
  * query's per-key states exactly. All cases run in one forked child.
  */
class StreamBatchParitySpec extends ForkedParity {
  parityTests("parity")
}
