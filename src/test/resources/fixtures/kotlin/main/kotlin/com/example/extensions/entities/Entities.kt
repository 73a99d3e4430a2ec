package com.example.extensions.entities

data class ExtendMe(val value: String)

class ExtendMeFromProperty(private val source: String) {
    fun printValue() {
        println("from property: $source")
    }
}
