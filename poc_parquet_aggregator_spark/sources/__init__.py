from .tokens import generate_token_table, token_table_schema, write_token_table

__all__ = ["generate_token_table", "token_table_schema", "write_token_table"]
