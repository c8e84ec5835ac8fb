"""Layered benchmark of the raster/spatial engine; see perfbench/README.md."""
