"""Training-data operator zoo: dedup, ANN/PQ similarity search, graph,
curation, sketches, relational/event breadth, multimodal features and
event-stream operators (sessionize, windowed aggregates, stream dedup,
enrichment, interval joins, heavy hitters), with their query registry
(``operator_zoo.queries``).

None of it serves PDF/XLS extraction. It sits outside the
``pdf_to_xls_vision_spark`` package, which never imports it
(``tests/test_boundary.py``); the zoo may import the engine's helpers,
never the other way round.
"""
