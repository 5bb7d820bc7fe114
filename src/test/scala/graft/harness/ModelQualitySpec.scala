package graft.harness

import org.scalatest.funsuite.AnyFunSuite

/** Quality floors for the two ML benchmark stand-ins (M3/M4): the MLlib
  * substitutes are benchmark-timed elsewhere, but a broken feature
  * pipeline could hide behind a green timer — these specs run each
  * training stage on the sf0.001 fixture. ny_taxi_ml must actually
  * LEARN (beat the trivial predictor by a wide margin), so a silently
  * shuffled label column, a dropped feature, or a broken split shows up
  * as a red test, not a quietly worse number. plasticc's stand-in sits
  * at chance, so its floor only guards against a NaN or divergent loss
  * (see [[QualityFloors.PlasticcLoglossMax]]).
  */
class ModelQualitySpec extends AnyFunSuite {

  test("ny_taxi_ml GBT regression clears the quality floor (test MSE)") {
    val res = BenchmarkRegistry.create("ny_taxi_ml")
      .run(RunParams(dataDir = "/root/testdata/sf0.001"))
    val mse = res.params("test_mse").toDouble
    info(s"ny_taxi_ml test_mse = $mse")
    // fare_amount is deterministically derivable from the feature set
    // (trip_distance = fare/10 in the offline mapping), so a working
    // pipeline must land far below the label variance (~constant-
    // predictor MSE); threshold set ~3x the observed value to stay
    // robust to seed/partitioning jitter while still catching any
    // feature-pipeline breakage (observed: orders of magnitude jumps)
    assert(mse >= 0.0 && !mse.isNaN)
    assert(mse < QualityFloors.NyTaxiMseMax,
      s"test MSE $mse above floor ${QualityFloors.NyTaxiMseMax}")
  }

  test("plasticc classifier clears the quality floor (weighted logloss)") {
    val res = BenchmarkRegistry.create("plasticc")
      .run(RunParams(dataDir = "/root/testdata/sf0.001"))
    val loss = res.params("weighted_logloss").toDouble
    info(s"plasticc weighted_logloss = $loss")
    assert(loss >= 0.0 && !loss.isNaN)
    assert(loss < QualityFloors.PlasticcLoglossMax,
      s"weighted logloss $loss above floor ${QualityFloors.PlasticcLoglossMax}")
  }
}

object QualityFloors {
  /** Measured on sf0.001: test_mse = 33.2 (fare label variance is ~10^4,
    * so a broken pipeline lands orders of magnitude above this);
    * threshold = 3x observed.
    */
  val NyTaxiMseMax = 100.0

  /** The stand-in has 5 classes, so a uniform guess scores
    * ln(5) ≈ 1.609 whatever the class weights. Measured: 1.665 on sf0.001
    * and 1.6106 on sf0.01 — both at chance (the mapped features carry no
    * signal about o_orderpriority). This floor therefore does not show
    * that the classifier learned anything; it only catches a NaN or a
    * divergent loss.
    */
  val PlasticcLoglossMax = 2.5
}
