from .readers import (FIXTURE_DIR, TABLES, load, load_all,  # noqa: F401
                      normalize_events_ts, read_csv, read_json_lines)
