"""Event-stream operators of the zoo: sessionize and windowed
aggregates, stream dedup, stream-static enrichment, stream-stream
interval joins and heavy hitters."""
