package graft

import graft.raster.{Fixtures, Grb}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Crash safety of the fixture writers' completion markers: a file is
  * only ever trusted through the marker of the writer that wrote it. */
class FixturesSpec extends AnyFunSuite {

  test("multigrid scenes rewrite a red raster the plain writer left " +
      "incomplete") {
    val red = Paths.get(Fixtures.grbPath(0, "red"))
    val plainMarker = Fixtures.dir.resolve("scene0-grb.ok")
    val ref = Files.createTempFile("graft_red_ref", ".grb")
    try {
      Fixtures.writeScenesMultigrid(1)
      Grb.writeWithOverviews(ref.toString, Fixtures.scenePixels(0),
        Fixtures.sceneGeobox(0), "uint16", Some(0.0))
      // a plain write killed mid-file: no marker, half a raster
      Files.deleteIfExists(plainMarker)
      val bytes = Files.readAllBytes(red)
      Files.write(red, bytes.take(bytes.length / 2))

      Fixtures.writeScenesMultigrid(1)
      assert(java.util.Arrays.equals(Files.readAllBytes(red),
        Files.readAllBytes(ref)), "red raster differs from the plain writer's")
      val (h, px) = Grb.readWindow(red.toString, 0, 0,
        Fixtures.SceneW, Fixtures.SceneH)
      assert(h.width == Fixtures.SceneW && px.sameElements(Fixtures.scenePixels(0)))
    } finally {
      // later specs read scene 0: leave it complete whatever happened
      Files.deleteIfExists(plainMarker)
      Fixtures.writeScenes(1)
      Files.deleteIfExists(ref)
    }
  }
}
