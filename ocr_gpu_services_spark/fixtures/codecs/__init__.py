"""Fixture-side encoders, one module per ``core/`` codec it feeds.

``core/`` is the extraction kernel: decoders and extractors only (plus
the production ``core.png.png_encode`` family).  The encoders that
write the fixture corpus live here.  They import spec tables, public
decoders and shared format helpers from ``core``, never a decoder's
hot-loop function, so a decoder rewrite cannot move fixture bytes.
"""
