from .bronze import load_table, load_tables, local_frame, parse_raw_events, to_event_json

__all__ = ["load_table", "load_tables", "local_frame", "parse_raw_events", "to_event_json"]
