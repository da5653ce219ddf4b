"""Benchmark of the bayesiandatafusion_jl_spark package: see README.md."""
